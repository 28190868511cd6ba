"""Similarity search over embedding columns (array<float>).

Two tiers, per the north star:
- brute-force cosine top-k — exact baseline; query side broadcast, window
  top-k per query. Cost O(|Q| * n); right answer for small query sets.
- signed-random-projection (SRP) LSH bucketing — the scale path: each
  vector hashes to a small integer bucket from the signs of dot products
  with fixed pseudo-random hyperplanes; ANN search probes only matching
  buckets (an equi-join on bucket id instead of a cross join).

All math in double-precision column expressions (F.aggregate/F.zip_with —
sequential fold, bit-compatible with the DuckDB oracle's list arithmetic).
Hyperplanes are deterministic (md5-seeded, no RNG) so plans and oracles
reproduce across engines and rounds.
"""

from __future__ import annotations

import hashlib
import json
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import pround


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def srp_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: component (j,i) = parity of the first
    hex digit of md5('srp|j|i'). No RNG — reproducible everywhere."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"srp|{j}|{i}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 else -1.0)
        planes.append(row)
    return planes


def srp_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """SRP-LSH bucket id in [0, 2^n_planes): bit j set iff dot(v, h_j) > 0.

    Each hyperplane rides in as ``from_json`` over one string literal
    rather than a dim-wide CreateArray of literal nodes — the optimizer
    constant-folds it to the identical array literal (±1.0 round-trips
    JSON exactly) and the analyzed tree drops from n_planes*dim literal
    nodes to n_planes, cutting per-run driver planning cost (same
    rewrite as pq._lit_vecs; guide §7.3)."""
    import json as _json

    v = _as_double(vec)
    bucket = F.lit(0)
    for j, plane in enumerate(srp_hyperplanes(dim, n_planes)):
        # allow_nan=False: non-finite floats would serialize as the
        # non-standard NaN/Infinity tokens, which Spark's PERMISSIVE
        # from_json nulls out SILENTLY (whole constant -> null) — fail
        # fast at build time instead (ADVICE r11)
        h = F.from_json(
            F.lit(_json.dumps(plane, allow_nan=False)), "array<double>"
        )
        bucket = bucket + F.when(dot(v, h) > 0, F.lit(2**j)).otherwise(F.lit(0))
    return bucket.cast("long")


def paired_cosine(
    a_vec: Column, b_vec: Column, a_norm: Column, b_norm: Column
) -> Column:
    """Cosine from PRE-COMPUTED norms: dot(a,b) / (a_norm * b_norm).

    In any pairwise scorer (kNN, IVF, near-dup) the naive ``cosine(a, b)``
    recomputes each side's norm once PER PAIR — n*k redundant 64-element
    folds at scale. Materializing ``norm(v)`` as a column on each side
    BEFORE the join computes it once per row; the Project sits below the
    join/exchange, which Catalyst does not collapse across, so it is
    genuinely evaluated once. Bit-identical to ``cosine`` (same sequential
    fold, same sqrt), so oracles are unaffected.
    """
    return dot(_as_double(a_vec), _as_double(b_vec)) / (a_norm * b_norm)


def with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    return df.withColumn(norm_col, norm(_as_double(F.col(vec_col))))


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    sim_decimals: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    queries is broadcast (small side); candidates never shuffle — each
    partition scores its vectors against all queries and the per-query
    window keeps k. Norms are precomputed per row (see paired_cosine).
    Similarity is rounded BEFORE ranking and ties broken by candidate id,
    so results are engine-deterministic.
    """
    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
        "q_norm",
    )
    c = with_norm(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec",
        "c_norm",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            pround(
                paired_cosine(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                sim_decimals,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def _centroid_entries(
    centroids: DataFrame, id_col: str, vec_col: str
) -> list[dict]:
    """Driver-side centroid list (bounded: K rows — the adjudicated
    k-centroid read pattern), ascending centroid id, with each norm
    precomputed in Python by the SAME left-folded sum-of-squares + sqrt
    sequence as ``with_norm``'s JVM fold — every step is a correctly-
    rounded IEEE binary64 op in the same order on both sides, so the
    values are bit-identical (verified: 0 row diffs vs the broadcast-
    join spelling on the sf0.1 corpus)."""
    rows = (
        centroids.select(
            F.col(id_col).cast("long").alias("cid"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .orderBy("cid")
        .collect()
    )
    entries = []
    for r in rows:
        s = 0.0
        for x in r.cv:
            s += x * x
        entries.append({"cid": int(r.cid), "cn": math.sqrt(s), "cv": list(r.cv)})
    return entries


def _cell_expr(
    entries: list[dict], vec: Column, vn: Column, sim_decimals: int
) -> Column:
    """Nearest-centroid id for ONE row as a pure expression: rounded
    cosine against each entry (ascending cid), first maximum — exactly
    the former (sim desc, centroid_id asc) tie-break. The centroid
    table rides in as ``from_json`` over one string literal
    (constant-folded; see pq._lit_vecs), so the assignment is MAP-ONLY:
    the previous max_by spelling still shuffled corpus-cardinality
    partial rows WITH vector payloads through its aggregate exchange
    (r11, guide §2.4).

    r12: ONE traversal. The former ``array_position(sims,
    array_max(sims))`` spelling referenced ``sims`` twice and the
    constant three times — higher-order functions are CodegenFallback
    (no common-subexpression elimination), so every row paid the K x
    dim cosine fold TWICE, and the analyzed tree carried three copies
    of the constant (the r11-measured cold-compile cost). The
    strictly-greater left fold below keeps the FIRST maximum —
    identical tie-break — and Spark's NaN-safe comparison (NaN greater
    than everything, first NaN kept) matches array_max's ordering; the
    null-entry guard reproduces array_max's null-skipping (an all-null
    sims column yields a null cid either way)."""
    # allow_nan=False: a non-finite centroid value would otherwise emit
    # a NaN/Infinity token that PERMISSIVE from_json nulls out silently
    # (every row would get a null centroid_id) — fail fast (ADVICE r11)
    cb = F.from_json(
        F.lit(json.dumps(entries, allow_nan=False)),
        "array<struct<cid:bigint,cn:double,cv:array<double>>>",
    )
    scored = F.transform(
        cb,
        lambda e: F.struct(
            pround(dot(vec, e["cv"]) / (vn * e["cn"]), sim_decimals).alias(
                "s"
            ),
            e["cid"].alias("cid"),
        ),
    )
    best = F.aggregate(
        scored,
        F.lit(None).cast("struct<s:double,cid:bigint>"),
        lambda acc, x: F.when(
            (acc["cid"].isNull() & x["s"].isNotNull())
            | (x["s"] > acc["s"]),
            x,
        ).otherwise(acc),
    )
    return best["cid"]


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """Coarse quantization: assign every vector to its nearest centroid
    (max rounded cosine, ties to lowest centroid id) -> (id, centroid_id).

    MAP-ONLY: the K centroids are collected once (bounded driver read)
    and folded into a constant struct array; the per-row argmax is a
    column expression — no broadcast build, no join, no aggregate, no
    exchange at any corpus size. This builds the IVF inverted lists; at
    100 TB you would persist the assignment partitioned BY centroid_id
    so probes touch only matching files."""
    entries = _centroid_entries(centroids, id_col, vec_col)
    v = with_norm(vectors.select(id_col, vec_col), vec_col, "__vn")
    cell = _cell_expr(
        entries, _as_double(F.col(vec_col)), F.col("__vn"), sim_decimals
    )
    return v.select(id_col, cell.alias("centroid_id"))


def _ivf_assign_carry(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """:func:`ivf_assign` that also keeps the vector and its norm on the
    row — with the map-only expression form this is a plain projection
    (no aggregate to carry anything through), so knn_ivf's inverted
    lists come straight off the scan."""
    entries = _centroid_entries(centroids, id_col, vec_col)
    v = with_norm(vectors.select(id_col, vec_col), vec_col, "__vn")
    cell = _cell_expr(
        entries, _as_double(F.col(vec_col)), F.col("__vn"), sim_decimals
    )
    return v.select(id_col, cell.alias("centroid_id"), vec_col, "__vn")


def ivf_assign_with_vectors(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """All of ``vectors``' columns plus ``centroid_id`` — the index-build
    projection. Replaces the former ``vectors ⋈ ivf_assign(...)`` on
    ``id_col``: that was a corpus self-join to re-attach rows the
    assignment had just scanned (r11, guide §2.4)."""
    entries = _centroid_entries(centroids, id_col, vec_col)
    w = with_norm(vectors, vec_col, "__vn")
    cell = _cell_expr(
        entries, _as_double(F.col(vec_col)), F.col("__vn"), sim_decimals
    )
    return w.select(*vectors.columns, cell.alias("centroid_id"))


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """IVF ANN top-k: exact search restricted to the ``nprobe`` cells whose
    centroids are nearest each query.

    Plan shape at scale: centroids broadcast twice (assignment + probe
    ranking, both tiny); the only data-sized shuffle is the equi-join of
    the inverted lists with the (query x probed-cell) pairs on
    centroid_id. Recall/cost dials: more centroids -> smaller cells;
    higher nprobe -> higher recall. Centroid selection here is
    deterministic seed-vectors; production swaps in k-means centers
    without touching the query plan."""
    # the assignment argmax CARRIES each vector + norm through the
    # aggregate, so the inverted lists need no corpus self-join to
    # re-attach them (r11; was vectors ⋈ assign on id)
    inv = _ivf_assign_carry(
        vectors, centroids, id_col, vec_col, sim_decimals
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("__vn").alias("c_norm"),
        "centroid_id",
    )

    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec",
        "q_norm",
    )
    c = with_norm(
        centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
        ),
        "centroid_vec",
        "__cn",
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(c))
        .withColumn(
            "__csim",
            pround(
                paired_cosine(
                    F.col("q_vec"), F.col("centroid_vec"), F.col("q_norm"), F.col("__cn")
                ),
                sim_decimals,
            ),
        )
        .withColumn("__rn", F.row_number().over(w_probe))
        .where(F.col("__rn") <= nprobe)
        .select("query_id", "q_vec", "q_norm", "centroid_id")
    )

    scored = (
        inv.join(F.broadcast(probes), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            pround(
                paired_cosine(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                sim_decimals,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def build_ivf_index(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: vectors + their centroid assignment,
    written PARTITIONED BY centroid_id.

    This is the production layout the in-memory ``knn_ivf`` docstring
    promises: each inverted list is its own partition directory, so a
    probe-time join on centroid_id triggers DYNAMIC PARTITION PRUNING —
    the scan reads only the nprobe cells' files and the other
    (n_centroids - nprobe)/n_centroids of the index is never opened.
    Rebuild cost is one assignment pass (broadcast centroids, no
    shuffle) plus the partitioned write.

    Layout: ``centroid_id=<cell>/ingest_batch=<n>/``. The second-level
    ``ingest_batch`` partition (-1 for batch builds) exists so the
    streaming maintainer (streaming.ann_stream) can overwrite exactly its
    own micro-batch's leaves on replay — idempotent at-least-once appends
    — while centroid_id stays the top-level directory DPP prunes on."""
    # one map-only projection — the former vectors ⋈ ivf_assign corpus
    # self-join re-attached rows the assignment had just scanned (r11)
    (
        ivf_assign_with_vectors(vectors, centroids, id_col, vec_col)
        .withColumn("ingest_batch", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("centroid_id", "ingest_batch")
        .parquet(path)
    )


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """ANN top-k over a :func:`build_ivf_index` layout. The probe set
    (query x nprobe nearest centroids) is broadcast; joining it to the
    partitioned index on centroid_id lets Spark prune index partitions at
    runtime (DPP) — I/O scales with nprobe, not index size. Scoring and
    the per-query top-k window are identical to ``knn_ivf``, so results
    match the in-memory operator exactly."""
    c = with_norm(
        centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
        ),
        "centroid_vec",
        "__cn",
    )
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec",
        "q_norm",
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(c))
        .withColumn(
            "__csim",
            pround(
                paired_cosine(
                    F.col("q_vec"), F.col("centroid_vec"), F.col("q_norm"), F.col("__cn")
                ),
                sim_decimals,
            ),
        )
        .withColumn("__rn", F.row_number().over(w_probe))
        .where(F.col("__rn") <= nprobe)
        .select("query_id", "q_vec", "q_norm", "centroid_id")
    )

    inv = with_norm(
        spark.read.parquet(path).select(
            "centroid_id",
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
        ),
        "c_vec",
        "c_norm",
    )
    scored = (
        inv.join(F.broadcast(probes), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            pround(
                paired_cosine(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                sim_decimals,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def kmeans_centroids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    n_iter: int = 5,
    round_decimals: int | None = None,
) -> DataFrame:
    """Lloyd's k-means for IVF centroid refinement — the iterative
    algorithm slot.

    Deterministic init: the k lowest-id vectors. Each iteration: fold
    the k centroids into a constant expression (tiny, k x dim doubles on
    the driver — the only driver-side state), assign every vector to its
    nearest centroid by squared L2 (a map-only column expression — no
    broadcast build, no join, no exchange; r11), recompute means via
    posexplode -> groupBy (centroid, dim) -> partial-aggregated avg.
    Per-iteration shuffle carries k*dim aggregate rows, never vectors.

    With ``round_decimals`` set, every centroid mean is rounded with the
    engine-portable ``pround`` after each iteration. That makes the whole
    run EXACTLY replayable on another engine that applies the same
    rounding (fp aggregation-order noise ~1e-15 is absorbed at e.g. 6
    decimals), which is how the catalog's DuckDB oracle verifies this
    otherwise-iterative algorithm value-for-value. Distances are
    sequential left-to-right folds, so identical inputs give bit-identical
    d2 on any engine folding in the same order.

    Returns (centroid_id, centroid array<double>, n_assigned).
    """
    v = vectors.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    cents = _kmeans_lloyd(v, k, n_iter, round_decimals)
    spark = vectors.sparkSession
    cent_df = spark.createDataFrame(cents, "centroid_id int, centroid array<double>")
    # final assignment counts: same map-only argmin expression as the
    # training rounds (no crossJoin, no corpus-payload exchange — r11)
    final_assign = (
        v.select(
            _argmin_cid_expr(
                F.col("__v"), [vec for _, vec in cents]
            ).alias("centroid_id")
        )
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
    )
    return cent_df.join(final_assign, "centroid_id", "left").select(
        "centroid_id",
        "centroid",
        F.coalesce("n_assigned", F.lit(0)).alias("n_assigned"),
    )


def _argmin_cid_expr(vec: Column, entries: list[list[float]]) -> Column:
    """0-based index of the nearest entry by left-folded squared-L2 —
    first minimum realizes the former min_by-(d2, centroid_id)
    tie-break exactly (entries are in ascending centroid-id order ==
    array order). The entry table is a ``from_json`` constant, so the
    argmin is a map-only expression: the crossJoin+min_by spelling it
    replaces shuffled one corpus-cardinality row WITH the vector
    payload per iteration (r11).

    r12: ONE traversal via a strictly-less left fold (see _cell_expr —
    the array_position(array_min) spelling evaluated the K x dim
    distance fold twice per row and put two copies of the constant in
    the tree). First minimum kept on ties; d2 is a finite sum of
    squares, and the null guard matches array_min's null-skipping."""
    # allow_nan=False: see _cell_expr — silent nulling beats no error
    cb = F.from_json(
        F.lit(json.dumps(entries, allow_nan=False)), "array<array<double>>"
    )
    scored = F.transform(
        cb,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.alias("i"),
        ),
    )
    best = F.aggregate(
        scored,
        F.lit(None).cast("struct<d:double,i:int>"),
        lambda acc, x: F.when(
            (acc["i"].isNull() & x["d"].isNotNull()) | (x["d"] < acc["d"]),
            x,
        ).otherwise(acc),
    )
    return best["i"]


def _kmeans_lloyd(
    v: DataFrame,
    k: int,
    n_iter: int,
    round_decimals: int | None,
) -> list[tuple[int, list[float]]]:
    """The Lloyd loop of :func:`kmeans_centroids` over a pre-normalized
    ``(__id, __v)`` frame, returning the trained ``(centroid_id, vec)``
    list (driver state = k x dim floats, the adjudicated k-means
    pattern). Shared with semdedup so its assignment can reuse the
    trained centroids map-side without a DataFrame round-trip."""
    cents = [
        (i, list(r["__v"]))
        for i, r in enumerate(v.orderBy("__id").limit(k).collect())
    ]
    if not cents:
        return cents  # empty corpus: nothing to train
    # NOTE (r12, measured-rejection): a "one aggregation" spelling with
    # dim parallel avg(element_at(__v, i)) aggregates was tried and is
    # 5x SLOWER at sf0.1 (bench_ab, control in-band): 64 avg aggregates
    # mean 128 aggregate-buffer fields, past codegen's field limit — the
    # whole stage (including the per-row argmin fold) drops to
    # interpreted mode. The posexplode shape below is already scale-
    # safe: the dim-fold explosion is MAP-SIDE and partial-aggregated
    # before the exchange, so the shuffle carries k*dim cells.
    for _ in range(n_iter):
        # per-vector argmin is a map-only expression over the constant
        # centroid table — the former crossJoin(broadcast)+min_by hash
        # aggregate shuffled corpus rows with payloads every iteration
        assigned = v.select(
            "__v",
            _argmin_cid_expr(
                F.col("__v"), [vec for _, vec in cents]
            ).alias("centroid_id"),
        )
        mean_expr = F.avg("x")
        if round_decimals is not None:
            mean_expr = pround(mean_expr, round_decimals)
        means = (
            assigned.select("centroid_id", F.posexplode("__v").alias("dim", "x"))
            .groupBy("centroid_id", "dim")
            .agg(mean_expr.alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("centroid"),
                F.first(F.lit(1)).alias("__one"),
            )
            .select("centroid_id", "centroid")
        )
        new_cents = {r.centroid_id: list(r.centroid) for r in means.collect()}
        # empty clusters keep their previous centroid
        cents = [(cid, new_cents.get(cid, vec)) for cid, vec in cents]
    return cents


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q8"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the ANN index compression
    step (4x memory/bandwidth vs float32): scale = max|x| / 127, each
    component rounds to round(x / scale) in [-127, 127]; the scale rides
    along for dequantization / asymmetric distance computation.

    All JVM (aggregate + transform over the array); rounding is the
    engine-portable floor(x + 0.5) spelling on MAGNITUDE (ties away from
    zero on both engines), so the quantized codes are bit-identical to
    the DuckDB oracle. Zero vectors quantize to zeros with scale 0."""
    x = _as_double(F.col(vec_col))
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    scale = (max_abs / F.lit(127.0)).alias(f"{out_col}_scale")
    codes = F.when(max_abs == 0.0, F.transform(x, lambda v: F.lit(0))).otherwise(
        F.transform(
            x,
            lambda v: (
                F.signum(v)
                * F.floor(F.abs(v) / (max_abs / F.lit(127.0)) + F.lit(0.5))
            ).cast("int"),
        )
    )
    return df.withColumn(f"{out_col}_scale", scale).withColumn(out_col, codes)


def semdedup_survivors(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    n_iter: int = 3,
    threshold: float = 0.3,
    round_decimals: int = 6,
    sim_decimals: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the corpus with k-means, then inside each cluster drop every vector
    that has a near-duplicate (rounded cosine >= ``threshold``) with a
    SMALLER id — the deterministic greedy keep-one rule. Returns the
    survivors as (id, centroid_id).

    Clustering is what makes this scale: the pairwise comparison happens
    only WITHIN a cell, so candidate work is sum(|cell|^2) instead of n^2
    — at 100 TB you raise k so cells stay bounded, exactly like the IVF
    index this shares its centroids with. Plan: one broadcast-assign pass
    (no shuffle), one hash shuffle on centroid_id for the in-cell
    self-join, one anti-join back.

    Exactly replayable cross-engine: centroids come from the
    round_decimals-rounded Lloyd run (see kmeans_centroids), assignment is
    the same left-folded squared-L2 argmin with lowest-id tie-break, and
    the dominance test uses the portable rounded cosine — so a DuckDB
    replay of the whole chain hash-matches value-for-value."""
    cents = _kmeans_lloyd(
        vectors.select(
            F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
        ),
        k,
        n_iter,
        round_decimals,
    )
    v = with_norm(
        vectors.select(
            F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
        ),
        "__v",
        "__n",
    )
    from prajna_spark.operators.lifecycle import scoped_local_checkpoint

    # assignment is the same map-only argmin expression as the Lloyd
    # rounds (no crossJoin, no corpus-payload exchange — r11); still
    # checkpointed eagerly because it feeds BOTH sides of the in-cell
    # self-join AND the survivor anti-join
    assigned = scoped_local_checkpoint(
        v.select(
            "__id",
            _argmin_cid_expr(
                F.col("__v"), [vec for _, vec in cents]
            ).alias("centroid_id"),
            "__v",
            "__n",
        )
    )
    a = assigned.select(
        F.col("__id").alias("id_a"),
        "centroid_id",
        F.col("__v").alias("v_a"),
        F.col("__n").alias("n_a"),
    )
    b = assigned.select(
        F.col("__id").alias("id_b"),
        "centroid_id",
        F.col("__v").alias("v_b"),
        F.col("__n").alias("n_b"),
    )
    dominated = (
        a.join(b, "centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            pround(
                paired_cosine(
                    F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
                ),
                sim_decimals,
            )
            >= F.lit(float(threshold))
        )
        .select(F.col("id_b").alias("__id"))
        .distinct()
    )
    return (
        assigned.join(dominated, "__id", "left_anti")
        .select(F.col("__id").alias(id_col), "centroid_id")
    )
