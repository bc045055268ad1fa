"""Similarity search over embedding columns (array<float>).

Two paths:

- ``brute_force_topk`` — exact cosine top-k: queries × corpus cross join,
  window top-k. Correctness baseline; also the right answer when the
  query set is small (broadcast the queries, scan the corpus once —
  linear in corpus size, embarrassingly parallel).

- ``lsh_topk`` — random-hyperplane LSH (SimHash for vectors): bucket
  corpus and queries by the sign pattern of ``n_planes`` fixed
  hyperplanes, compare only within-bucket (+ optional multi-probe via
  extra tables). At 100 TB this is the scale path: the cross join
  becomes a bucket equi-join, and bucket sizes are ~corpus/2^planes.

The hyperplanes are derived deterministically from md5 — no RNG state,
so any two runs (and any two engines) agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..functions.vector import EMBEDDING, VEC_ID
from ..session import needs_spread
from .asof import _plan_size_bytes

#: Query sides estimated at or below this carry an explicit broadcast
#: hint in brute_force_topk (the != join needs a BroadcastNestedLoopJoin
#: to avoid a cartesian shuffle, and a few-queries batch is the operator's
#: design point). Above it — or when the plan yields no size
#: estimate — no hint is baked: a corpus-vs-itself batch must never carry
#: an unbounded broadcast (house rule, VERDICT r3).
BROADCAST_QUERY_MAX_BYTES = 64 * 1024 * 1024


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine. Returns (query_id, neighbor_id, rank, cos).

    Size-gated broadcast of the query side (``BROADCAST_QUERY_MAX_BYTES``):
    when the query batch is small the corpus never shuffles and each task
    scores its partition — the optimal plan for few-queries/huge-corpus.
    When the "queries" are corpus-sized (the near-dup-graph use case) no
    hint is baked and the planner falls back to a partitioned cartesian.
    Self-matches (same id) are excluded; ties broken by neighbor id.
    """
    q = queries.select(
        F.col(VEC_ID).alias("query_id"), F.col(EMBEDDING).alias("qv")
    ).withColumn("qn", V.norm(F.col("qv")))
    c = corpus.select(
        F.col(VEC_ID).alias("neighbor_id"), F.col(EMBEDDING).alias("cv")
    ).withColumn("cn", V.norm(F.col("cv")))
    # gate on the projected side (id + vec only) — that is what would
    # actually broadcast; the raw input may carry wide extra columns
    qsize = _plan_size_bytes(q)
    qside = F.broadcast(q) if qsize is not None and qsize <= BROADCAST_QUERY_MAX_BYTES else q
    cos = V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        c.join(qside, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cos, 3).alias("cos"))
        # a zero-norm vector makes the cosine NULL (non-ANSI x/0.0);
        # such rows are unrankable and must not pad the top-k
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes."""
    import hashlib

    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"plane:{plane}:{i}".encode()).digest()
        for b in h:
            if len(vals) >= dim:
                break
            vals.append((b - 127.5) / 127.5)
        i += 1
    return vals


def lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 8
) -> DataFrame:
    """Add a ``bucket`` column: the sign pattern of n_planes fixed random
    hyperplanes, packed into a long. Pure Column math (dot product against
    literal arrays) — codegen'd, no UDF."""
    out = df
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        # one-expr literal plane (see _dlit) — not dim F.lit round-trips
        plane = F.expr(_darr(_hyperplane(dim, p)))
        sign = (V.dot(F.col(vec_col), plane) > 0).cast("long")
        bucket = bucket + F.shiftleft(sign, p)
    return out.withColumn("bucket", bucket)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    n_planes: int = 6,
) -> DataFrame:
    """Approximate top-k: only candidates in the query's LSH bucket are
    scored. Recall < 1.0 by design; raise recall with fewer planes or
    multiple hash tables."""
    qb = lsh_bucket(
        queries.select(F.col(VEC_ID).alias("query_id"), F.col(EMBEDDING).alias("qv")),
        "qv",
        dim,
        n_planes,
    ).withColumn("qn", V.norm(F.col("qv")))
    cb = lsh_bucket(
        corpus.select(F.col(VEC_ID).alias("neighbor_id"), F.col(EMBEDDING).alias("cv")),
        "cv",
        dim,
        n_planes,
    ).withColumn("cn", V.norm(F.col("cv")))
    cos = V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    # bucket equi-join, no baked hint: AQE broadcasts the query side at
    # runtime when its measured size allows, and falls back to a
    # sort-merge join when the "queries" are corpus-sized (VERDICT r3)
    scored = (
        cb.join(qb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cos, 3).alias("cos"))
        .filter(F.col("cos").isNotNull())  # zero-norm guard (see brute force)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 5
    )


#: Decimal places every Lloyd centroid coordinate is rounded to after
#: the mean step (the ``ivf_assign`` docstring: what makes the quantizer
#: reproducible across engines, so its SQL oracles replay it exactly).
ROUND_MEANS = 6


def _dlit(x: float) -> str:
    """Exact SQL double literal. ``repr(float)`` is the shortest decimal
    that round-trips to the identical bits, and Spark's parser reads the
    ``...D`` suffix back through ``Double.parseDouble`` — bit-exact both
    ways (round-trip pytest-pinned, including -0.0 and denormals).

    Why strings: literal-bearing plans are generated as ONE SQL
    expression per operator instead of thousands of ``F.lit``/``F.array``
    /``F.struct`` Python calls — each Column call is a py4j round-trip,
    and an 8×64 centroid fold cost ~0.7 s of pure driver chatter PER
    ASSIGN before any job ran (measured r11; the SQL string parses in
    ~10 ms). The parsed expression is the same Catalyst literal tree the
    Column API built, so results are bit-identical (pytest-pinned arm
    equality + the unchanged DuckDB oracles)."""
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite coordinate cannot be a plan literal: {x!r}")
    return repr(x) + "D"


def _darr(vals: list[float]) -> str:
    """SQL ``array(...)`` of exact double literals."""
    return "array(%s)" % ", ".join(_dlit(x) for x in vals)


def _centroid_lookup_expr(cents: list[tuple[int, list[float]]]) -> F.Column:
    """Literal ``map<int, array<double>>`` from cell id to centroid —
    keyed by CELL ID, not position (Lloyd can empty a cell and leave a
    gapped cell set). ONE spelling shared by ivfpq's residual encode
    and the centroid-distance consumers (kmeans_quality,
    cluster_sample), which look a row's centroid up from this literal
    instead of broadcast-joining the centroid table: the join bought
    nothing (the centroids are driver-side by construction) and its
    derived-key equality let the optimizer push a stream-side fold
    into the broadcast build side, which binds against the wrong
    child's attributes on Spark 4.1 (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    — reproduced r12 on q_kmeans_quality's first cold run)."""
    cent_map = {cell: cvec for cell, cvec in cents}
    return F.expr(
        "map_from_arrays(array(%s), array(%s))"
        % (
            ", ".join(str(int(cell)) for cell in sorted(cent_map)),
            ", ".join(_darr(cent_map[cell]) for cell in sorted(cent_map)),
        )
    )


def _centroid_struct_array(cents: list[tuple[int, list[float]]]) -> F.Column:
    """A literal ``array<struct<cell:int, cvec:array<double>>>`` column
    from driver-side centroids — n_centroids × dim literals, folded by
    codegen with zero data movement. Generated as one SQL string
    (see ``_dlit``) so plan construction costs one py4j call, not
    n_centroids × dim."""
    structs = ", ".join(
        f"named_struct('cell', CAST({int(cell)} AS INT), 'cvec', {_darr(cvec)})"
        for cell, cvec in cents
    )
    return F.expr(f"array({structs})")


def _sqdist(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 distance as a zip_with/aggregate fold (same expression —
    and therefore the same float evaluation order — on every call site,
    so Spark and the unrolled DuckDB oracle agree bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_cells(vec: F.Column, cents: list[tuple[int, list[float]]]) -> F.Column:
    """Sorted ``array<struct<dist, cell>>`` of the vector's distance to
    every centroid — struct ordering gives (dist asc, cell asc), so
    element 1 is the argmin with the same tie-break the oracle uses."""
    scored = F.transform(
        _centroid_struct_array(cents),
        lambda s: F.struct(
            _sqdist(vec, s.cvec).alias("dist"), s.cell.alias("cell")
        ),
    )
    return F.array_sort(scored)


def ivf_assign(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic Lloyd iterations.

    Initial centroids = the ``n_centroids`` lowest-id vectors (no RNG, so
    runs are reproducible); two rounds of assign + mean. Returns
    (assignments(id, cell), centroids(cell, cvec)).

    Scale shape per iteration: the centroid table is ALWAYS driver-side
    (n_centroids rows — collected once at init, then after each mean
    step, the same move MLlib's KMeans makes), so the assign step is a
    pure Column fold against a literal array of centroid structs: one
    linear scan, ZERO shuffles, no join, no window (VERDICT r3 — the
    previous formulation shuffled n×k scored rows through
    ``Window.partitionBy(id)`` per iteration). The only shuffle per
    iteration is the groupBy(cell) mean, with map-side combine.

    Each centroid coordinate is rounded to ``ROUND_MEANS`` decimal places
    after the mean step. The mean over a distributed partition sum is
    order-nondeterministic in the last ulp; rounding makes the quantizer
    REPRODUCIBLE across engines (and across Spark runs), which is what
    lets q_ann_ivf carry a full DuckDB oracle — the oracle unrolls the
    same Lloyd iterations in SQL and must land on bit-identical
    centroids.

    One assign formulation at every size: the literal fold, bit-exact
    against the unrolled SQL oracle. Its plan carries n_centroids × dim
    literal terms and evaluates a lambda per element, so it plans and
    runs slowly far past the 8 × 64 every query uses. The loop always
    runs both rounds, matching the oracle's unrolled CTE chain.
    """
    assignments, cents, _ = _ivf_fit(corpus, dim, n_centroids)
    centroids = corpus.sparkSession.createDataFrame(
        [(cell, cvec) for cell, cvec in cents], "cell INT, cvec ARRAY<DOUBLE>"
    )
    return assignments, centroids


def _ivf_fit(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 8,
    n_iters: int = 2,
    n_first: int = 0,
) -> tuple[DataFrame, list[tuple[int, list[float]]], list]:
    """The Lloyd fit behind ``ivf_assign``: returns (assignments, the
    driver-side (cell, cvec) centroid list, the first ``n_first`` rows
    of the projected corpus by id ASC). The centroid list is already on
    the driver, so the ANN/cluster operators build their probe and
    lookup literals from it without a collect. The first rows come from
    the SAME job as the centroid init (r12 "fused init": the init
    collect just widens its limit), so ivfpq's lowest-id PQ training
    sample costs no extra job."""
    from .dedup import _persist

    # the projected corpus is scanned once per Lloyd iteration plus the
    # init collect and the final assign — persist it (registered with
    # the dedup cache registry; release_dedup_caches() frees it).
    # Rebalance to all cores (guide §2.5): a few-file corpus otherwise
    # caches as ONE partition and every Lloyd assign fold + the final
    # assign run their rows × n_centroids × dim lambda steps on a
    # single core (measured r12: 0.5-0.9 s per Lloyd collect at sf0.1
    # on local[32]); at 100 TB splits ≫ cores and this is a no-op by
    # construction. Partition-layout independence of the results is the
    # operator's documented contract (ROUND_MEANS absorbs partial-sum
    # ulp order). NOTE the split: the probe runs on the RAW
    # projection and the repartition goes ABOVE the cache — probing the
    # cached frame (df.rdd) or caching the repartition both trip an AQE
    # attribute-binding bug when two plan arms share the cache entry
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, reproduced r12 on the
    # two-arm q_kmeans_quality union; needs_spread docstring).
    proj = corpus.select(
        F.col(VEC_ID).alias("id"), V.as_double(F.col(EMBEDDING)).alias("v")
    )
    rebalance = needs_spread(proj)
    c = _persist(proj)
    if rebalance:
        c = c.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    first_rows = c.orderBy("id").limit(max(n_centroids, n_first)).collect()
    cents: list[tuple[int, list[float]]] = [
        (i + 1, list(r.v)) for i, r in enumerate(first_rows[:n_centroids])
    ]

    def assign(vecs: DataFrame) -> DataFrame:
        nearest = F.element_at(_nearest_cells(F.col("v"), cents), 1)
        return vecs.withColumn("cell", nearest.cell).select("id", "v", "cell")

    def _mean_step(assigned: DataFrame) -> DataFrame:
        # new centroid = element-wise mean of member vectors: one
        # map-side-combined shuffle of dim avg columns over
        # groupBy(cell), generated as ONE array(...) expression string
        # (the _dlit lesson: dim separate agg Columns cost a py4j
        # round-trip each)
        terms = ", ".join(
            f"round(avg(v[{i}]), {ROUND_MEANS})" for i in range(dim)
        )
        return assigned.groupBy("cell").agg(F.expr(f"array({terms})").alias("cvec"))

    for _ in range(n_iters):
        means = _mean_step(assign(c))
        # one job per Lloyd iteration; the next assign starts from
        # literals again (constant lineage depth)
        cents = [(r.cell, list(r.cvec)) for r in means.collect()]
    return assign(c), cents, first_rows[:n_first]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    n_probe: int = 2,
) -> DataFrame:
    """IVF approximate top-5 by cosine (rounded to 3 dp) over 8 Lloyd
    cells: corpus vectors live in their nearest centroid's cell; each
    query probes its ``n_probe`` nearest cells and scores only those
    members. The inverted-file analogue of lsh_topk —
    data-adaptive cells instead of fixed hyperplanes.

    Probe selection is the same zero-shuffle literal fold as the assign
    step: sort the query's per-centroid distance array, slice the first
    ``n_probe``, explode — a narrow map, no join, no window. The member
    join carries no baked hint; AQE broadcasts the probe side at runtime
    when its measured size allows (VERDICT r3)."""
    # centroid rows come straight off the fit's driver-side list (a
    # LocalTableScan collect cost ~0.5 s of query execution per call —
    # measured r12)
    assignments, cents, _ = _ivf_fit(corpus, dim, 8)
    members = assignments.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell"
    ).withColumn("cn", V.norm(F.col("cv")))

    q = queries.select(
        F.col(VEC_ID).alias("query_id"), V.as_double(F.col(EMBEDDING)).alias("qv")
    ).withColumn("qn", V.norm(F.col("qv")))
    probe_cells = F.slice(_nearest_cells(F.col("qv"), cents), 1, n_probe)
    probes = (
        q.withColumn("pc", probe_cells)
        .select("query_id", "qv", "qn", F.explode("pc").alias("p"))
        .select("query_id", "qv", "qn", F.col("p.cell").alias("cell"))
    )
    cos = V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        members.join(probes, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cos, 3).alias("cos"))
        .filter(F.col("cos").isNotNull())  # zero-norm guard (see brute force)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 5
    )


def cluster_sample(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 8,
    per_cell: int = 5,
) -> DataFrame:
    """Cluster-balanced corpus selection: k-means the embeddings, then
    keep the ``per_cell`` members NEAREST their centroid per cluster
    (the most representative examples, the prototypicality curation
    step of the SemDeDup / DataComp pipelines). Returns one row
    per kept vector: (vec_id, cell BIGINT, dist, rank) with ``dist``
    the L2 distance to the centroid rounded to 6 dp and
    ``rank`` 1-based within the cell.

    Scale shape: the quantizer is the deterministic ``ivf_assign``
    (lowest-id init, fixed rounds, rounded means — zero-shuffle literal
    fold per iteration); the centroid join is against the bounded
    n_cells-row table (broadcast by construction). The per-cell top-B
    deliberately avoids a ``Window.partitionBy(cell)`` — with few cells
    over a huge corpus a rank window sorts corpus/n_cells rows in ONE
    hot partition. Instead the classic two-phase top-k: a local top-B
    per (cell, input-partition) group — each group is confined to a
    single map partition, so the shuffle is uniform regardless of cell
    skew — then a global top-B per cell over the ≤ B×P survivors. Both
    phases are sort_array-over-collect_list on bounded groups; ties
    break (dist asc, id asc) via struct ordering, matching the oracle's
    ROW_NUMBER.

    Cross-engine determinism: ranking compares the squared-L2 fold
    (bit-identical evaluation order both engines — ``_sqdist``
    docstring); the oracle ranks on DuckDB's ``list_distance`` (the
    sqrt), argmin/order-equivalent since sqrt is monotone. The emitted
    ``dist`` is ROUND(sqrt, 6) in both.
    """
    if per_cell < 1:
        raise ValueError("per_cell must be >= 1")
    assignments, cents, _ = _ivf_fit(corpus, dim, n_centroids=n_cells)
    # each row's centroid comes from the literal cell→cvec map instead
    # of a broadcast join against the (driver-side anyway) centroid
    # table: same _sqdist fold over the same literal doubles, one
    # BroadcastHashJoin fewer, and it sidesteps the Spark 4.1
    # pushed-fold binding bug (_centroid_lookup_expr docstring)
    cvec = F.element_at(_centroid_lookup_expr(cents), F.col("cell").cast("int"))
    d2 = _sqdist(F.col("v"), cvec)
    keyed = assignments.select(
        "cell", F.struct(d2.alias("key"), F.col("id").alias("id")).alias("s")
    )
    local = (
        keyed.withColumn("_pid", F.spark_partition_id())
        .groupBy("cell", "_pid")
        .agg(F.slice(F.array_sort(F.collect_list("s")), 1, per_cell).alias("top"))
    )
    final = (
        local.select("cell", F.explode("top").alias("s"))
        .groupBy("cell")
        .agg(F.slice(F.array_sort(F.collect_list("s")), 1, per_cell).alias("top"))
    )
    return (
        final.select("cell", F.posexplode("top").alias("pos", "s"))
        .select(
            F.col("s.id").alias("vec_id"),
            F.col("cell").cast("long").alias("cell"),
            F.round(F.sqrt(F.col("s.key")), 6).alias("dist"),
            (F.col("pos") + 1).cast("long").alias("rank"),
        )
    )


def kmeans_quality(corpus: DataFrame, dim: int, n_centroids: int = 8) -> DataFrame:
    """Clustering-quality report for one k: per-cell size and inertia —
    the measurements behind the elbow/balance decision every IVF/k-means
    deployment makes before committing to an index width (``q_ann_recall``
    measures the index's retrieval quality; this measures the quantizer
    itself). Returns one row per cell:

      (cell BIGINT, n_vectors BIGINT, inertia DOUBLE)

    with ``inertia`` = Σ members' squared L2 distance to their centroid.
    Total inertia (the elbow y-axis) is ``SUM(inertia)``; cell-size
    spread (the balance check) reads off ``n_vectors``.

    Cross-engine determinism: the quantizer is the deterministic
    ``ivf_assign`` (lowest-id init, fixed rounds, 6-dp-rounded
    means — the q_ann_ivf reproducibility contract); each member's
    squared distance is the shared ``_sqdist`` fold, ROUNDed to
    6 dp, and the per-cell sum runs in DECIMAL over the rounded
    values — exact at any accumulation order, so a distributed partial
    sum and the oracle's sequential one land on the identical double
    (the money-sum convention applied to distances).

    Scale: one broadcast join against the bounded centroid table (driver-
    resident by construction) + one map-side-combined groupBy(cell) —
    the exact shape of a Lloyd mean step; output is n_centroids rows.
    """
    assignments, cents, _ = _ivf_fit(corpus, dim, n_centroids=n_centroids)
    # literal cell→cvec map lookup instead of the broadcast join — same
    # fold over the same literal doubles, one BroadcastHashJoin fewer,
    # and no pushed-fold binding bug (_centroid_lookup_expr docstring)
    cvec = F.element_at(_centroid_lookup_expr(cents), F.col("cell").cast("int"))
    d2 = F.round(_sqdist(F.col("v"), cvec), 6)
    return (
        assignments
        # DECIMAL(38,s): with ANSI off a per-value overflow at (18,s)
        # would silently NULL the distance out of the sum while the
        # DuckDB oracle raises — 38 digits hold any float64 square
        # a 64-dim corpus can produce (ADVICE r7 §1)
        .select(F.col("cell"), d2.cast("decimal(38,6)").alias("d"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("d").cast("double").alias("inertia"),
        )
        .select(F.col("cell").cast("long").alias("cell"), "n_vectors", "inertia")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the codes-in-memory ANN scale path.
# ---------------------------------------------------------------------------

def pq_train(
    sample: list[list[float]],
    dim: int,
    m: int = 4,
    k_sub: int = 4,
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks from a DRIVER-SIDE sample — plain
    deterministic Lloyd, no RNG (init = the first ``k_sub`` sample
    subvectors, in sample order).

    Driver-side training is the standard PQ posture (faiss trains its
    codebooks on a bounded sample too): the sample is tiny and fixed
    regardless of corpus size, so training cost is O(1) in the corpus —
    the DISTRIBUTED parts are encode (linear scan) and ADC search
    (linear scan over 1-byte-per-subspace codes), which is the whole
    point of PQ at 100 TB: the codes for a billion vectors fit where
    the vectors themselves never would (m bytes vs 4·dim).

    Reproducibility mirrors ``ivf_assign``: every centroid coordinate is
    rounded to 6 dp after each mean step (absorbs
    summation-order ulp drift), assignment tie-breaks on the lower
    centroid index, and a cluster that loses all members keeps its
    previous centroid — the SQL oracle replays the identical schedule.

    Returns ``codebooks[j][c] = centroid c of subspace j`` with
    ``m * k_sub`` entries of ``dim // m`` floats each.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m} subspaces")
    if len(sample) < k_sub:
        raise ValueError(
            f"PQ training needs >= k_sub={k_sub} sample vectors, got {len(sample)}"
        )
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        vecs = [row[j * sub : (j + 1) * sub] for row in sample]
        cents = [list(vecs[c]) for c in range(k_sub)]
        for _ in range(2):
            sums = [[0.0] * sub for _ in range(k_sub)]
            counts = [0] * k_sub
            for v in vecs:
                best, best_d = 0, None
                for ci, c in enumerate(cents):
                    d = 0.0
                    for x, y in zip(v, c):
                        d += (x - y) * (x - y)
                    if best_d is None or d < best_d:  # strict: ties keep lower ci
                        best, best_d = ci, d
                counts[best] += 1
                for i, x in enumerate(v):
                    sums[best][i] += x
            cents = [
                [_round_half_up(s / counts[ci], 6) for s in sums[ci]]
                if counts[ci]
                else cents[ci]  # empty cluster keeps its centroid
                for ci in range(k_sub)
            ]
        books.append(cents)
    return books


def _round_half_up(x: float, places: int) -> float:
    """HALF_UP rounding of a double's SHORTEST round-trip decimal
    representation — the semantics of BOTH Spark's ``F.round``
    (``BigDecimal.valueOf(double)`` = Double.toString shortest repr,
    then setScale HALF_UP) and DuckDB's ``ROUND`` (verified on true
    decimal ties, NOTES_r8). ``Decimal(repr(x))`` is that same
    shortest repr in Python.

    The r1-r7 version quantized the EXACT binary expansion
    (``Decimal(x)``), which diverges from both engines precisely on
    values whose true decimal form is a tie at the target scale (e.g.
    5.5701835 → engines say 5.570184, exact-binary said 5.570183,
    because the nearest double sits a hair BELOW the tie). Rational
    test vectors surfaced the class (r8); real float math almost never
    lands there, which is why five scales of oracle sweeps did not.
    Python's builtin ``round`` is banker's rounding and diverges on
    every exact half — still wrong, still avoided."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-places), rounding=decimal.ROUND_HALF_UP
        )
    )


def _pq_code_col(
    vec: F.Column, books: list[list[list[float]]], sub: int
) -> F.Column:
    """``array<int>`` of per-subspace centroid codes for ``vec`` — one
    argmin fold per subspace against codebook literals (zero shuffles,
    same plan shape as the IVF literal assign)."""
    codes = []
    for j, cents in enumerate(books):
        scored = F.array(
            *[
                F.struct(
                    _sqdist(
                        F.slice(vec, j * sub + 1, sub),
                        # one-expr codebook literal (see _dlit)
                        F.expr(_darr(c)),
                    ).alias("dist"),
                    F.lit(ci).cast("int").alias("code"),
                )
                for ci, c in enumerate(cents)
            ]
        )
        codes.append(F.element_at(F.array_sort(scored), 1).code)
    return F.array(*codes)


def pq_encode(corpus: DataFrame, books: list[list[list[float]]], dim: int) -> DataFrame:
    """(id, codes array<int>) — the PQ compression of the corpus: a
    single narrow scan, no shuffle, no join; at scale this is the
    materialized index (m small ints per vector)."""
    sub = dim // len(books)
    v = V.as_double(F.col(EMBEDDING))
    return corpus.select(
        F.col(VEC_ID).alias("id"), _pq_code_col(v, books, sub).alias("codes")
    )


def _collect_queries(queries: DataFrame):
    """A pool-thread target collecting the query batch as (id, v) rows
    by id. ``inheritable_thread_target`` hands the thread the caller's
    job group and tags, so its job is counted with the caller's."""
    from pyspark import inheritable_thread_target

    return inheritable_thread_target(queries.sparkSession)(
        lambda: queries.select(
            F.col(VEC_ID).alias("id"), V.as_double(F.col(EMBEDDING)).alias("v")
        )
        .orderBy("id")
        .collect()
    )


def pq_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5) -> DataFrame:
    """Asymmetric-distance PQ search: top-``k`` neighbors per query by
    ADC (sum over subspaces of the exact distance from the query
    subvector to the neighbor's CODE centroid).

    ABLATION — do not use standalone at corpus scale: this is "PQ
    without pruning" — the ``codes.crossJoin(luts)`` scores EVERY code
    row against every query (compressed reads, but still a full scan
    per query). It exists to isolate the compression axis, exactly
    like ``exact=True`` in ``dedup.ngram_jaccard_pairs`` isolates the
    quadratic baseline. The scale path is ``ivfpq_topk``, which
    replaces the cross join with a broadcast (query, cell, LUT)
    equi-join on the IVF cell so per-query work is proportional to the
    probed cells' population.

    Scale shape (of the parts ivfpq reuses): train on the 64
    lowest-id vectors (driver sample, O(1) in the corpus), encode in
    one narrow scan, then score with per-query lookup tables baked in
    as literals — the scan reads only (id, codes), never the vectors;
    the only shuffle is the per-query top-k window over candidate
    rows. Queries are collected driver-side (bounded query batch —
    same posture as the centroid collect in ``ivf_assign``).

    ADC float discipline: LUT entries are computed driver-side with the
    same left-to-right fold the SQL oracle unrolls; the total is the
    left-associated sum over subspaces, rounded to 6 dp — ranking uses
    the ROUNDED value with an id tie-break, so both engines rank
    identical numbers.
    """
    from concurrent.futures import ThreadPoolExecutor

    # the training-sample and query-batch collects are independent scan
    # jobs — overlap them (guide §2.6) instead of paying them serially
    with ThreadPoolExecutor(max_workers=1) as _pool:
        _qfut = _pool.submit(_collect_queries(queries))
        sample = [
            list(r.v)
            for r in corpus.select(
                F.col(VEC_ID).alias("id"), V.as_double(F.col(EMBEDDING)).alias("v")
            )
            .orderBy("id")
            .limit(64)
            .collect()
        ]
        _q_collected = _qfut.result()
    books = pq_train(sample, dim)
    codes = pq_encode(corpus, books, dim)
    sub = dim // len(books)

    q_rows = [(int(r.id), list(r.v)) for r in _q_collected]
    spark = corpus.sparkSession
    # LUT[j][c]: exact sqdist from the query's j-th subvector to codebook
    # centroid c — left-to-right accumulation, mirroring the oracle
    lut_rows = []
    for qid, qv in q_rows:
        lut = []
        for j, cents in enumerate(books):
            qsub = qv[j * sub : (j + 1) * sub]
            row = []
            for c in cents:
                d = 0.0
                for x, y in zip(qsub, c):
                    d += (x - y) * (x - y)
                row.append(d)
            lut.append(row)
        lut_rows.append((qid, lut))
    luts = F.broadcast(
        spark.createDataFrame(
            lut_rows, "query_id BIGINT, lut ARRAY<ARRAY<DOUBLE>>"
        )
    )
    adc = None
    for j in range(len(books)):
        term = F.element_at(
            F.element_at(F.col("lut"), j + 1), F.col("codes")[j] + 1
        )
        adc = term if adc is None else adc + term
    scored = (
        codes.crossJoin(luts)
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(adc, 6).alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _sqdist_py(a: list[float], b: list[float]) -> float:
    """Left-to-right squared-L2 fold — the SAME accumulation order as
    ``_sqdist``'s Column fold and the oracle's generated term chain, so
    all three implementations produce bit-identical doubles."""
    d = 0.0
    for x, y in zip(a, b):
        d += (x - y) * (x - y)
    return d


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 3,
    m: int = 4,
    k_sub: int = 4,
    n_train: int = 64,
    residual: bool = False,
) -> DataFrame:
    """IVF + PQ composed — the standard billion-scale ANN architecture
    (faiss IVF*,PQ*): the IVF coarse quantizer prunes candidates to the
    query's ``n_probe`` nearest cells, and PQ codes score them by ADC
    without ever touching the full vectors.

    Scale shape: after the (bounded, driver-side-centroid) IVF training,
    the index is ONE table of (id, cell, m codes) built in a single
    narrow scan. A query batch turns into a broadcast (query_id, cell,
    LUT) table — n_queries × n_probe rows — and candidate generation is
    a cell EQUI-join against that, scoring sum-of-LUT-lookups per
    candidate: no cross join, no vector reads, per-query work
    proportional to the probed cells' population. This is the plan
    shape that survives a billion-vector corpus; brute force, LSH, IVF
    (full-vector scoring), and PQ (no pruning) are its one-axis
    ablations, all implemented above.

    ``residual=True`` is the faiss-default accuracy refinement: PQ
    codebooks train on and codes encode v − centroid(cell) instead of
    the raw vectors — residual magnitudes are much smaller than vector
    magnitudes, so the same k_sub codebook spends its resolution on
    the part the IVF cell hasn't already explained. Plumbing is
    identical except (a) one zip_with subtraction against the
    broadcast centroid literal before encode and (b) the query LUT is
    per PROBED CELL (q − centroid(cell)) instead of per query — the
    probe table was already (query, cell)-grained, so the join shape
    is unchanged. Determinism discipline is shared with
    ``pq_topk``/``ivf_assign``: rounded means, left-associated distance
    folds, (dist, index) tie-breaks, ranking on the ROUNDED ADC.
    """
    from concurrent.futures import ThreadPoolExecutor

    # the query batch collect is independent of the IVF/PQ training —
    # overlap it with the training's driver jobs (guide §2.6) instead
    # of paying it serially after them
    with ThreadPoolExecutor(max_workers=1) as _pool:
        _qfut = _pool.submit(_collect_queries(queries))
        assignments, cents, first_rows = _ivf_fit(
            corpus, dim, n_centroids,
            # fused init (VERDICT r11 #3): the PQ training sample is the
            # same lowest-id projection the init collect already takes —
            # widen that collect instead of running a second job
            n_first=n_train,
        )
        _q_collected = _qfut.result()
    cent_map = {cell: cvec for cell, cvec in cents}
    sub = dim // m
    if residual:
        # centroid lookup is a literal map KEYED BY CELL ID, not a
        # positionally-indexed array: Lloyd can empty a cell (duplicate
        # init vectors, migration), and ivf_assign then returns a GAPPED
        # non-consecutive cell set — positional indexing would subtract
        # the wrong centroid (or NULL past the end) while the
        # driver-side LUTs and the oracle key by cell correctly. Zero
        # joins either way; the zip_with subtraction is the SAME double
        # op the Python/LUT and oracle sides perform.
        cent_lookup = _centroid_lookup_expr(cents)
        enc_vec = F.zip_with(
            F.col("v"),
            F.element_at(cent_lookup, F.col("cell").cast("int")),
            lambda a, b: a - b,
        )
    else:
        enc_vec = F.col("v")
    # cell is a pure driver-replicable function of (v, cents):
    # _sqdist_py is the same left-to-right fold as the Column expression
    # and min((dist, cell)) is the same (dist asc, cell asc) tie-break.
    # The rows themselves came back with the init collect (n_first — the
    # identical TakeOrdered over the persisted projection), so the
    # training sample costs no job of its own.
    sample_rows = [
        (
            list(r.v),
            min((_sqdist_py(list(r.v), cvec), cell) for cell, cvec in cents)[1],
        )
        for r in first_rows
    ]
    if residual:
        sample = [
            [x - c for x, c in zip(v, cent_map[cell])] for v, cell in sample_rows
        ]
    else:
        sample = [v for v, _ in sample_rows]
    books = pq_train(sample, dim, m, k_sub)
    codes = assignments.select(
        "id", "cell", _pq_code_col(enc_vec, books, sub).alias("codes")
    )

    q_rows = [(int(r.id), list(r.v)) for r in _q_collected]
    probe_rows = []
    for qid, qv in q_rows:
        by_cell = sorted(
            (_sqdist_py(qv, cvec), cell) for cell, cvec in cents
        )
        if not residual:
            # the LUT depends only on the query here — build it once,
            # not once per probed cell
            lut = [
                [_sqdist_py(qv[j * sub : (j + 1) * sub], c) for c in books[j]]
                for j in range(m)
            ]
        for _, cell in by_cell[:n_probe]:
            if residual:
                qr = [x - c for x, c in zip(qv, cent_map[cell])]
                lut = [
                    [_sqdist_py(qr[j * sub : (j + 1) * sub], c) for c in books[j]]
                    for j in range(m)
                ]
            probe_rows.append((qid, int(cell), lut))
    spark = corpus.sparkSession
    probes = F.broadcast(
        spark.createDataFrame(
            probe_rows, "query_id BIGINT, cell INT, lut ARRAY<ARRAY<DOUBLE>>"
        )
    )
    adc = None
    for j in range(m):
        term = F.element_at(
            F.element_at(F.col("lut"), j + 1), F.col("codes")[j] + 1
        )
        adc = term if adc is None else adc + term
    scored = (
        codes.join(probes, "cell")
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(adc, 6).alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
