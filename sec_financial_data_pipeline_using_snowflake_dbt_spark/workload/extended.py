"""Extended workload: sessionization, as-of join, LSH ANN, multimodal —
the custom operators, run through the driver gate. Oracle-backed where
SQL can express the semantics; rows-only otherwise (approximate or
UDF-stubbed ops)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import asof as ASOF
from ..operators import multimodal as MM
from ..operators import similarity as SIM
from ..plans.serve import guarded_sql
from .common import ORACLES, q, register_views, require_sql_surgery, table


# ---------------------------------------------------------------------------
# Batch sessionization: lag + gap-flag + cumulative count (the guide's
# canonical pattern).
# ---------------------------------------------------------------------------
@q(
    "q_sessionization",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                          OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions,
           COUNT(*) AS n_events
    FROM seq GROUP BY user_id
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev_ts", F.lag("ts").over(w))
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    return seq.groupBy("user_id").agg(
        F.sum(new_sess).cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# As-of join: for each purchase, the latest click at-or-before it per
# user (ties on the timestamp resolved to one whole row, greatest value
# tuple — documented in operators/asof.py). Runs through
# ``asof_join_auto``: the size dispatcher picks the range join while the
# click table is broadcast-scale and the time-bucketized lookup beyond
# that (both exact, identical tie-breaks — 3-way agreement + bucket-
# width invariance are pytest-enforced in tests/test_asof.py).
# ---------------------------------------------------------------------------
@q(
    "q_asof_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
    best AS (
      SELECT p.event_id, p.user_id, p.ts, MAX(c.ts) AS ts_asof
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      GROUP BY p.event_id, p.user_id, p.ts
    )
    SELECT b.event_id,
           STRFTIME(b.ts_asof, '%Y-%m-%d %H:%M:%S') AS click_ts,
           MAX(c2.value) AS click_value
    FROM best b LEFT JOIN c c2 ON c2.user_id = b.user_id AND c2.ts = b.ts_asof
    GROUP BY b.event_id, b.ts_asof
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = ASOF.asof_join_auto(
        purchases, clicks, on="ts", by="user_id", value_cols=["value"],
    )
    return joined.select(
        "event_id",
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.col("value_asof").alias("click_value"),
    )


# ---------------------------------------------------------------------------
# LSH-bucketed approximate ANN. Approximate w.r.t. the exact top-k
# (q_ann_topk), but fully DETERMINISTIC: the md5-derived hyperplanes are
# fixed constants, so the oracle replicates the bucketing bit-for-bit
# with the plane vectors embedded as SQL literals.
# ---------------------------------------------------------------------------
def _ann_lsh_sql(dim: int = 64, n_planes: int = 4, k: int = 5) -> str:
    bucket_terms = []
    for p in range(n_planes):
        plane = SIM._hyperplane(dim, p)
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(v, CAST({lit} AS DOUBLE[])) > 0 "
            f"THEN 1 ELSE 0 END) * {1 << p}"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(q.v, c.v), 3) AS cos
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {k}
    """


@q("q_ann_lsh", _ann_lsh_sql())
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(
        emb.filter(F.col("vec_id") < 8), emb, dim=64, n_planes=4
    )


# ---------------------------------------------------------------------------
# Multimodal: synthesize image/video payloads from the documents table,
# then run the Pandas-UDF decode and frame-sample stages. The PNGs carry
# a REAL IHDR chunk — width/height are built as big-endian u32 bytes with
# unhex(lpad(hex(n))) Column expressions — so decode_image_features
# reports true header-parsed dimensions, not hash-derived fakes (r3).
# Rows-only: the pixel-stat stub is not SQL-expressible.
# ---------------------------------------------------------------------------
def _be_u32(c) -> object:
    """Column: int → 4 big-endian bytes (for binary header synthesis)."""
    return F.unhex(F.lpad(F.hex(c), 8, "0"))


def _synth_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality asset synthesis as ONE documents scan: the
    png/mp4 split is a CASE over ``doc_id`` parity, not a two-branch
    union — a union of two filtered selects reads the corpus twice
    (two FileScans), which at 100 TB is a second full pass for zero
    information (r11 plan audit).

    ASCII-only guard on the video branch: the frames oracle re-derives
    the engine's byte-window md5s by slicing the payload as a VARCHAR,
    which is byte-exact iff every character is one byte. The generated
    corpora are all-ASCII so this filters nothing in practice; it makes
    the char==byte slicing equivalence hold by construction rather than
    by luck (the sampled-arm discipline: restrict BOTH arms
    identically)."""
    docs = table(spark, sf_dir, "documents")
    is_png = F.col("doc_id") % 2 == 0
    png_payload = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),
        F.lit(b"\x00\x00\x00\x0dIHDR"),
        _be_u32(F.lit(64) + F.col("doc_id") % 1024),
        _be_u32(F.lit(64) + F.col("n_chars") % 1024),
        F.lit(b"\x08\x02\x00\x00\x00"),
        F.encode("text", "UTF-8"),
    )
    mp4_payload = F.concat(
        F.lit(b"\x00\x00\x00\x18ftypmp42"), F.encode("text", "UTF-8")
    )
    return docs.filter(
        is_png | (F.octet_length("text") == F.length("text"))
    ).select(
        F.md5(F.col("doc_id").cast("string")).alias("asset_id"),
        F.lit("unknown").alias("modality"),
        F.when(is_png, png_payload).otherwise(mp4_payload).alias("payload"),
    )


# The decode outputs over these synthesized assets are deterministic
# functions of `documents`, so both queries carry REAL DuckDB oracles
# (VERDICT r10 #2 — closing the last two no_oracle rows): the oracle
# re-derives the expected decode output from the synthesis parameters
# in pure SQL and the driver hash-matches it against the engine's
# sniff→parse→mapInPandas pipeline.
_MULTIMODAL_FEATURES_SQL = """
    SELECT MD5(CAST(doc_id AS VARCHAR)) AS asset_id,
           'png' AS format,
           CAST(64 + doc_id % 1024 AS BIGINT) AS width,
           CAST(64 + n_chars % 1024 AS BIGINT) AS height,
           CAST(29 + octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id % 2 = 0
"""


@q("q_multimodal_features", _MULTIMODAL_FEATURES_SQL)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode over synthesized PNG assets, hash-checked: asset
    identity, sniffed format, IHDR-parsed width/height and payload size
    are all real parsed values the oracle re-derives from `documents`.
    ``mean_luma`` is excluded from this projection: for IDAT-less
    fixtures it is the documented hash-fake stub sentinel (not a decode
    output), and the REAL pixel paths (PNG matrix / JPEG / GIF) are
    golden-byte pytest-verified in test_multimodal."""
    assets = _synth_assets(spark, sf_dir)
    return MM.decode_image_features(assets).select(
        "asset_id", "format", "width", "height", "n_bytes"
    )


_MULTIMODAL_FRAMES_SQL = """
    WITH m AS (
      SELECT MD5(CAST(doc_id AS VARCHAR)) AS asset_id,
             CHR(0)||CHR(0)||CHR(0)||CHR(24)||'ftypmp42'||text AS payload
      FROM documents
      WHERE doc_id % 2 = 1 AND octet_length(encode(text)) = length(text)
    ),
    w AS (
      SELECT asset_id, CAST(i AS BIGINT) AS frame_index,
             SUBSTR(payload, i * 64 + 1, 64) AS win
      FROM m CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS i) g
      WHERE i < LEAST(4, GREATEST(1, length(payload) // 64))
    )
    SELECT asset_id, frame_index, MD5(win) AS frame_hash,
           CAST(NULL AS DOUBLE) AS pts_seconds,
           CAST(length(win) AS BIGINT) AS n_bytes,
           CAST(NULL AS BOOLEAN) AS keyframe
    FROM w
"""


@q("q_multimodal_frames", _MULTIMODAL_FRAMES_SQL)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-window frame sampling over moov-less video assets,
    hash-checked INCLUDING frame content: the synthesized mp4 payload
    is ASCII-only (header bytes < 0x80 + ASCII text, guarded in
    ``_synth_assets``), so the oracle slices the same 64-byte windows
    as one-byte-per-char VARCHAR substrings and its ``MD5(win)`` equals
    the engine's md5 of the raw window bytes. The sample-table path
    (real stts/stsz/stsc/stco/ctts joins) is golden-pinned in
    test_multimodal."""
    assets = _synth_assets(spark, sf_dir)
    return MM.sample_video_frames(assets, every_n_bytes=64, max_frames=4)


# ---------------------------------------------------------------------------
# SQL passthrough THROUGH the serving gate (P9/S12: the reference's
# SELECT-only custom-query path, Frontend/app.py:277-309) — the gate
# parses the plan, rejects commands, then executes.
# ---------------------------------------------------------------------------
_GATE_SQL = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
"""


@q("q_sql_gate", _GATE_SQL)
def q_sql_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return guarded_sql(spark, _GATE_SQL)


# ---------------------------------------------------------------------------
# Unpivot via stack() (pivot's inverse — engine completeness; the pivot
# twin is q_pivot in relational.py).
# ---------------------------------------------------------------------------
@q(
    "q_unpivot",
    """
    WITH agg AS (
      SELECT l_returnflag,
             SUM(l_quantity) AS sum_qty,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty' AS measure, sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'disc' AS measure, sum_disc AS value FROM agg
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .common import dec

    l = table(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(dec("l_discount")).cast("double").alias("sum_disc"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "stack(2, 'qty', sum_qty, 'disc', sum_disc) AS (measure, value)",
    )


# ---------------------------------------------------------------------------
# IVF approximate ANN — fully oracle-checked (r3, was rows-only). The
# quantizer is deterministic (lowest-id init, fixed Lloyd rounds), so the
# oracle UNROLLS the same iterations as a CTE chain: assign → per-cell
# elementwise mean → reassign → mean → final assign → probe → score.
# Cross-engine reproducibility hinges on SIM.ROUND_MEANS: each centroid
# coordinate is rounded to 6 dp after the mean step in BOTH engines,
# which absorbs the order-nondeterministic last-ulp drift of a
# distributed AVG (operators/similarity.py ivf_assign docstring).
# list_distance (sqrt'd L2) vs Spark's squared L2 is argmin-equivalent.
# ---------------------------------------------------------------------------
def _lloyd_assign_cte(name: str, cents: str) -> str:
    """One Lloyd assign step as a DuckDB CTE: nearest centroid with the
    engine-shared (dist ASC, cell ASC) tie-break."""
    return f"""
    {name} AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c.cvec) ASC,
                                           c.cell ASC) AS rn
        FROM e CROSS JOIN {cents} c) WHERE rn = 1
    )"""


def _lloyd_means_cte(name: str, asgn: str, dim: int) -> str:
    """One Lloyd mean step as a DuckDB CTE: per-cell elementwise mean,
    each coordinate ROUND()ed like the Spark side (ROUND_MEANS) so the
    distributed-AVG last-ulp drift can't diverge the chain."""
    return f"""
    {name} AS (
      SELECT cell, list(m ORDER BY i) AS cvec FROM (
        SELECT a.cell, i.i AS i, ROUND(AVG(a.v[i.i]), {SIM.ROUND_MEANS}) AS m
        FROM {asgn} a CROSS JOIN (SELECT UNNEST(generate_series(1, {dim})) AS i) i
        GROUP BY a.cell, i.i)
      GROUP BY cell
    )"""


def _lloyd_chain_ctes(
    dim: int, n_centroids: int, n_iters: int
) -> tuple[list[str], str]:
    """The full deterministic Lloyd unroll over the ``embeddings`` table
    (lowest-id init, n_iters assign+mean rounds, one final assign) as a
    list of CTE strings; returns (ctes, final_assign_cte_name). Shared
    by every oracle that replays similarity.ivf_assign (q_ann_ivf,
    q_ann_ivfpq's IVF arm, q_dedup_semantic)."""
    ctes = [
        """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""",
        f"""c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell, v AS cvec
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {n_centroids})
    )""",
    ]
    cents = "c0"
    for it in range(1, n_iters + 1):
        ctes.append(_lloyd_assign_cte(f"a{it}", cents))
        ctes.append(_lloyd_means_cte(f"c{it}", f"a{it}", dim))
        cents = f"c{it}"
    final_assign = f"a{n_iters + 1}"
    ctes.append(_lloyd_assign_cte(final_assign, cents))
    return ctes, final_assign


def _ann_ivf_sql(
    dim: int = 64,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 3,
    n_iters: int = 2,
    n_queries: int = 8,
) -> str:
    ctes, final_assign = _lloyd_chain_ctes(dim, n_centroids, n_iters)
    cents = f"c{n_iters}"
    ctes.append(
        f"""probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_distance(q.v, c.cvec) ASC,
                                           c.cell ASC) AS rn
        FROM e q CROSS JOIN {cents} c WHERE q.vec_id < {n_queries})
      WHERE rn <= {n_probe}
    )"""
    )
    ctes.append(
        f"""scored AS (
      SELECT p.query_id, m.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(p.qv, m.v), 3) AS cos
      FROM {final_assign} m JOIN probes p USING (cell)
      WHERE p.query_id <> m.vec_id
    )"""
    )
    body = ",\n    ".join(c.strip() for c in ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {k}
    """


@q("q_ann_ivf", _ann_ivf_sql())
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb.filter(F.col("vec_id") < 8), emb, dim=64, n_probe=3)


# ---------------------------------------------------------------------------
# Product-quantization ANN — fully oracle-checked. The quantizer is
# deterministic (driver-side Lloyd on the n_train lowest-id vectors,
# HALF_UP-rounded means each round — operators/similarity.py pq_train),
# so the oracle UNROLLS the identical per-subspace training schedule as
# a CTE chain, then replays encode + ADC. Float discipline: the EMITTED
# ADC total is generated as the SAME left-associated term chain
# Python/Spark evaluate and ranked on its ROUNDED value with an id
# tie-break — both engines rank identical numbers (the q_ann_ivf
# reproducibility argument, one level deeper). Argmin-only steps
# (Lloyd assigns, encode) use list_distance — argmin/tie-break
# equivalent, and it keeps the expression executors small enough that
# a default-config DuckDB stays far under vm.max_map_count (the
# NOTES_r6 §13 failure mode; the fully-unrolled form reached 45k maps
# at sf0.1 — within 1.5x of the kernel wall — in one process).
# ---------------------------------------------------------------------------
def _ann_pq_sql(
    dim: int = 64,
    m: int = 4,
    k_sub: int = 4,
    n_train: int = 64,
    n_iters: int = 2,
    k: int = 5,
    n_queries: int = 8,
    round_to: int = 6,
) -> str:
    sub = dim // m

    def sqd(vec: str, base: int, cvec: str) -> str:
        # left-associated (((t1 + t2) + t3) ...) — SQL + is left-assoc,
        # so a flat chain reproduces the Python/Spark fold order
        terms = [
            f"({vec}[{base + i}] - {cvec}[{i}]) * ({vec}[{base + i}] - {cvec}[{i}])"
            for i in range(1, sub + 1)
        ]
        return " + ".join(terms)

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"samp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {n_train})",
    ]
    final_books = []
    for j in range(m):
        base = j * sub
        ctes.append(
            f"s{j} AS (SELECT vec_id, v[{base + 1}:{base + sub}] AS sv FROM samp)"
        )
        ctes.append(
            f"""b{j}_0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, sv AS cvec
      FROM (SELECT vec_id, sv FROM s{j} ORDER BY vec_id LIMIT {k_sub}))"""
        )
        prev = f"b{j}_0"
        for it in range(1, n_iters + 1):
            ctes.append(
                f"""a{j}_{it} AS (
      SELECT vec_id, sv, code FROM (
        SELECT s.vec_id, s.sv, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY list_distance(s.sv, c.cvec) ASC,
                                           c.code ASC) AS rn
        FROM s{j} s CROSS JOIN {prev} c) WHERE rn = 1)"""
            )
            ctes.append(
                f"""m{j}_{it} AS (
      SELECT code, list(mm ORDER BY i) AS cvec FROM (
        SELECT a.code, i.i AS i, ROUND(AVG(a.sv[i.i]), {round_to}) AS mm
        FROM a{j}_{it} a CROSS JOIN (SELECT UNNEST(generate_series(1, {sub})) AS i) i
        GROUP BY a.code, i.i) GROUP BY code)"""
            )
            ctes.append(
                f"""b{j}_{it} AS (
      SELECT p.code, COALESCE(mnew.cvec, p.cvec) AS cvec
      FROM {prev} p LEFT JOIN m{j}_{it} mnew USING (code))"""
            )
            prev = f"b{j}_{it}"
        final_books.append(prev)
        ctes.append(
            f"""enc{j} AS (
      SELECT vec_id, code FROM (
        SELECT e.vec_id, c.code,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v[{base + 1}:{base + sub}], c.cvec) ASC,
                                           c.code ASC) AS rn
        FROM e CROSS JOIN {prev} c) WHERE rn = 1)"""
        )
    code_joins = " ".join(
        f"JOIN enc{j} x{j} ON x{j}.vec_id = x0.vec_id" for j in range(1, m)
    )
    ctes.append(
        f"""codes AS (
      SELECT x0.vec_id, {", ".join(f"x{j}.code AS c{j}" for j in range(m))}
      FROM enc0 x0 {code_joins})"""
    )
    adc_terms = " + ".join(
        f"({sqd('q.v', j * sub, f'bb{j}.cvec')})" for j in range(m)
    )
    book_joins = " ".join(
        f"JOIN {final_books[j]} bb{j} ON bb{j}.code = x.c{j}" for j in range(m)
    )
    ctes.append(
        f"""scored AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             ROUND({adc_terms}, {round_to}) AS adc
      FROM (SELECT vec_id, v FROM e WHERE vec_id < {n_queries}) q
      CROSS JOIN codes x {book_joins}
      WHERE x.vec_id <> q.vec_id)"""
    )
    body = ",\n    ".join(c.strip() for c in ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, adc, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc ASC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {k}
    """


@q("q_ann_pq", _ann_pq_sql())
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.pq_topk(
        emb.filter(F.col("vec_id") < 8), emb, dim=64, k=5,
    )


# ---------------------------------------------------------------------------
# IVF + PQ composed (the faiss IVF*,PQ* architecture): IVF cells prune
# candidates, PQ codes score them by ADC — fully oracle-checked.
#
# Oracle footprint discipline (round 7): the previous formulation
# unrolled EVERY squared distance — IVF assigns over the full corpus,
# PQ subspace Lloyd, encode, probes — as dim-wide left-associated term
# chains. Correct, but the resulting expression executors were so large
# that DuckDB's default-config buffer pool (32 threads x ~256 KB glibc
# mmaps) exhausted vm.max_map_count (65530) on a 500-row table and died
# with a spurious 16 KB "Out of Memory" (reproduced: 65531 maps in
# /proc/PID/maps at failure; NOTES_r6 §13). The slim formulation keeps
# the expanded chain ONLY where the produced double is actually emitted
# and hash-compared (the ADC in `scored`); every argmin-only comparison
# uses list_distance(), which is argmin- and tie-break-equivalent
# (sqrt is monotone) and is exactly how the driver-green q_ann_ivf
# oracle replays the same Spark assigns. The IVF arm is now literally
# _lloyd_chain_ctes — shared with q_ann_ivf / q_dedup_semantic instead
# of a duplicated unroll. Verified on an UNCAPPED duckdb.connect() at
# sf0.01 and sf0.001 against the Spark result.
# ---------------------------------------------------------------------------
def _ann_ivfpq_sql(
    dim: int = 64,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 3,
    ivf_iters: int = 2,
    m: int = 4,
    k_sub: int = 4,
    n_train: int = 64,
    pq_iters: int = 2,
    n_queries: int = 8,
    round_to: int = 6,
    residual: bool = False,
) -> str:
    sub = dim // m

    def sqd(vec: str, base: int, cvec: str, width: int) -> str:
        # left-associated (((t1 + t2) + t3) ...) — only used for the
        # EMITTED ADC value, where bit-parity with the Spark-side
        # Python LUT fold matters; argmin steps use list_distance.
        return " + ".join(
            f"({vec}[{base + i}] - {cvec}[{i}]) * ({vec}[{base + i}] - {cvec}[{i}])"
            for i in range(1, width + 1)
        )

    # IVF coarse quantizer + final corpus assign: the shared Lloyd
    # unroll (identical CTEs to the q_ann_ivf oracle — same init, same
    # rounded means, same (dist, cell) tie-break).
    ctes, final_assign = _lloyd_chain_ctes(dim, n_centroids, ivf_iters)
    cents = f"c{ivf_iters}"

    # residual=True (faiss default): PQ trains on and encodes
    # v - centroid(cell). The residual list is one list_transform per
    # vector (same double subtraction the Spark zip_with and the
    # Python LUT perform); downstream CTEs are IDENTICAL — they just
    # read from `res` instead of `e`. MATERIALIZED is load-bearing
    # (r8): `res` has five consumers (samp + the m enc{j} encodes), and
    # without the hint DuckDB inlines the whole Lloyd chain into each —
    # fine at the driver's 500-2000 vectors, but at sf1 (20k vectors)
    # the duplicated window/join state exceeded even a 20 GB cap; with
    # the hint the oracle runs in 4 s under the standard 8 GB / ~3.8k
    # mmaps (NOTES_r8).
    enc_src = "e"
    if residual:
        enc_src = "res"
        ctes.append(
            f"""res AS MATERIALIZED (
      SELECT a.vec_id, a.cell,
             list_transform(generate_series(1, {dim}),
                            i -> a.v[i] - c.cvec[i]) AS v
      FROM {final_assign} a JOIN {cents} c USING (cell))"""
        )

    # PQ codebooks: per-subspace Lloyd on the n_train lowest-id sample.
    ctes.append(
        f"samp AS (SELECT vec_id, v FROM {enc_src} ORDER BY vec_id LIMIT {n_train})"
    )
    final_books = []
    for j in range(m):
        base = j * sub
        ctes.append(
            f"s{j} AS (SELECT vec_id, v[{base + 1}:{base + sub}] AS sv FROM samp)"
        )
        ctes.append(
            f"""b{j}_0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, sv AS cvec
      FROM (SELECT vec_id, sv FROM s{j} ORDER BY vec_id LIMIT {k_sub}))"""
        )
        prev = f"b{j}_0"
        for it in range(1, pq_iters + 1):
            ctes.append(
                f"""a{j}_{it} AS (
      SELECT vec_id, sv, code FROM (
        SELECT s.vec_id, s.sv, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY list_distance(s.sv, c.cvec) ASC,
                                           c.code ASC) AS rn
        FROM s{j} s CROSS JOIN {prev} c) WHERE rn = 1)"""
            )
            ctes.append(
                f"""m{j}_{it} AS (
      SELECT code, list(mm ORDER BY i) AS cvec FROM (
        SELECT a.code, i.i AS i, ROUND(AVG(a.sv[i.i]), {round_to}) AS mm
        FROM a{j}_{it} a CROSS JOIN (SELECT UNNEST(generate_series(1, {sub})) AS i) i
        GROUP BY a.code, i.i) GROUP BY code)"""
            )
            ctes.append(
                f"""b{j}_{it} AS (
      SELECT p.code, COALESCE(mnew.cvec, p.cvec) AS cvec
      FROM {prev} p LEFT JOIN m{j}_{it} mnew USING (code))"""
            )
            prev = f"b{j}_{it}"
        final_books.append(prev)
        # encode the FULL corpus's j-th subvector against the final book
        ctes.append(
            f"""enc{j} AS (
      SELECT vec_id, code FROM (
        SELECT e.vec_id, c.code,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v[{base + 1}:{base + sub}], c.cvec) ASC,
                                           c.code ASC) AS rn
        FROM {enc_src} e CROSS JOIN {prev} c) WHERE rn = 1)"""
        )
    code_joins = " ".join(
        f"JOIN enc{j} x{j} ON x{j}.vec_id = x0.vec_id" for j in range(1, m)
    )
    ctes.append(
        f"""codes AS (
      SELECT x0.vec_id, cl.cell, {", ".join(f"x{j}.code AS c{j}" for j in range(m))}
      FROM enc0 x0 {code_joins} JOIN {final_assign} cl ON cl.vec_id = x0.vec_id)"""
    )
    # query probes: n_probe nearest IVF cells, same (dist, cell)
    # tie-break. Cell selection always uses the FULL query vector; for
    # residual the carried qv becomes q - centroid(cell), computed per
    # (query, probed cell) — the probe table was already that grain.
    qv_expr = (
        f"list_transform(generate_series(1, {dim}), i -> q.v[i] - c.cvec[i])"
        if residual
        else "q.v"
    )
    ctes.append(
        f"""probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, {qv_expr} AS qv, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_distance(q.v, c.cvec) ASC,
                                           c.cell ASC) AS rn
        FROM (SELECT vec_id, v FROM e WHERE vec_id < {n_queries}) q
        CROSS JOIN {cents} c) WHERE rn <= {n_probe})"""
    )
    # ADC — the one place the expanded left-associated chain remains:
    # these doubles are emitted (ROUND 6dp) and hash-compared, so the
    # fold order must match the Spark-side Python LUT accumulation.
    adc_terms = " + ".join(
        f"({sqd('p.qv', j * sub, f'bb{j}.cvec', sub)})" for j in range(m)
    )
    book_joins = " ".join(
        f"JOIN {final_books[j]} bb{j} ON bb{j}.code = x.c{j}" for j in range(m)
    )
    ctes.append(
        f"""scored AS (
      SELECT p.query_id, x.vec_id AS neighbor_id,
             ROUND({adc_terms}, {round_to}) AS adc
      FROM probes p JOIN codes x ON x.cell = p.cell {book_joins}
      WHERE x.vec_id <> p.query_id)"""
    )
    body = ",\n    ".join(c.strip() for c in ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, adc, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc ASC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {k}
    """


@q("q_ann_ivfpq", _ann_ivfpq_sql())
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.ivfpq_topk(
        emb.filter(F.col("vec_id") < 8), emb, dim=64, k=5, n_centroids=8,
        n_probe=3, m=4, k_sub=4, n_train=64,
    )


# residual encoding (faiss IVF+PQ default): PQ on v − centroid(cell) —
# the accuracy refinement over q_ann_ivfpq's raw-vector codebooks; the
# q_ann_recall-style raw-vs-residual comparison is in NOTES_r7.
@q("q_ann_ivfpq_res", _ann_ivfpq_sql(residual=True))
def q_ann_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.ivfpq_topk(
        emb.filter(F.col("vec_id") < 8), emb, dim=64, k=5, n_centroids=8,
        n_probe=3, m=4, k_sub=4, n_train=64, residual=True,
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): k-means cells + within-cell cosine
# pruning, keep-lowest-id. Lives here (not dataprep.py) because the
# oracle replays the same deterministic Lloyd unroll as q_ann_ivf via
# _lloyd_chain_ctes. The raw cosine is deliberately not emitted — the
# output depends on floats only through the rounded threshold compare.
# ---------------------------------------------------------------------------
def _dedup_semantic_sql(
    dim: int = 64,
    n_cells: int = 8,
    threshold: float = 0.4,
    n_iters: int = 2,
    round_to: int = 6,
) -> str:
    ctes, final_assign = _lloyd_chain_ctes(dim, n_cells, n_iters)
    ctes.append(
        f"""near AS (
      SELECT b.vec_id AS vid, CAST(COUNT(*) AS BIGINT) AS n_near,
             MIN(a.vec_id) AS witness_id
      FROM {final_assign} a JOIN {final_assign} b USING (cell)
      WHERE a.vec_id < b.vec_id
        AND ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), {round_to}) >= {threshold}
      GROUP BY b.vec_id
    )"""
    )
    body = ",\n    ".join(c.strip() for c in ctes)
    return f"""
    WITH {body}
    SELECT m.vec_id, CAST(m.cell AS BIGINT) AS cell,
           COALESCE(n.n_near, 0) AS n_near, n.witness_id,
           CAST(CASE WHEN n.witness_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS keep
    FROM {final_assign} m LEFT JOIN near n ON m.vec_id = n.vid
    """


@q("q_dedup_semantic", _dedup_semantic_sql())
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the full embeddings table.

    Largest-scale harness bound: the oracle's ``near`` CTE is a
    within-cell all-pairs cosine join — with 8 cells over the full
    corpus its DuckDB replay is a documented TIME bound (7200 s, not a
    crash) at the largest test scale; q_dedup_semantic_sampled below
    carries the sf10 cross-engine signal."""
    from ..operators import dedup as DD

    return DD.semantic_dedup(
        table(spark, sf_dir, "embeddings"), dim=64, n_cells=8, threshold=0.4,
    )


_SEMANTIC_SAMPLED_SQL = _dedup_semantic_sql().replace(
    "CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
    "CAST(embedding AS DOUBLE[]) AS v FROM embeddings\n"
    "      WHERE SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'",
)
_SEMANTIC_SAMPLED_SQL = require_sql_surgery(
    _SEMANTIC_SAMPLED_SQL, _dedup_semantic_sql(),
    "q_dedup_semantic_sampled", "SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'",
)
require_sql_surgery(
    _SEMANTIC_SAMPLED_SQL, _dedup_semantic_sql(),
    "q_dedup_semantic_sampled", "FROM embeddings",
)


@q("q_dedup_semantic_sampled", _SEMANTIC_SAMPLED_SQL)
def q_dedup_semantic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-scale verification arm of q_dedup_semantic (VERDICT r9
    #2, the sampled-arm pattern): the identical SemDeDup chain — Lloyd
    quantizer, within-cell cosine pruning, keep-lowest-id — over a
    deterministic md5 1/16 stratum of embeddings, which bounds the
    oracle's within-cell all-pairs cosine replay (~1/256 of the pair
    work) inside a sweep chunk at the largest scale. The Lloyd init and
    means are stratum-local on BOTH engines (lowest-id init within the
    stratum), so every stage stays cross-engine hash-checked; the
    full-corpus query stays the contract at the scales the oracle can
    replay."""
    from ..operators import dedup as DD

    emb = table(spark, sf_dir, "embeddings").where(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) == "0"
    )
    return DD.semantic_dedup(
        emb, dim=64, n_cells=8, threshold=0.4
    )


# ---------------------------------------------------------------------------
# Cluster-balanced selection: k-means cells + per-cell nearest-to-centroid
# keep (the SemDeDup/DataComp prototypicality curation step). The oracle
# replays the shared Lloyd unroll, joins each member to its centroid and
# ranks by list_distance — order-equivalent to Spark's squared-L2 fold
# (sqrt is monotone), with the (dist asc, id asc) tie-break both engines
# share. The Spark side is the skew-immune two-phase top-B (no per-cell
# rank window); the oracle's ROW_NUMBER is rank-equivalent at oracle scale.
# ---------------------------------------------------------------------------
def _cluster_sample_sql(
    dim: int = 64,
    n_cells: int = 8,
    per_cell: int = 5,
    n_iters: int = 2,
    round_to: int = 6,
) -> str:
    ctes, final_assign = _lloyd_chain_ctes(dim, n_cells, n_iters)
    cents = f"c{n_iters}"
    ctes.append(
        f"""dists AS (
      SELECT a.vec_id, a.cell, list_distance(a.v, c.cvec) AS dist
      FROM {final_assign} a JOIN {cents} c USING (cell)
    )"""
    )
    body = ",\n    ".join(c.strip() for c in ctes)
    return f"""
    WITH {body}
    SELECT vec_id, CAST(cell AS BIGINT) AS cell,
           ROUND(dist, {round_to}) AS dist, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                                       ORDER BY dist ASC, vec_id ASC) AS rk
          FROM dists)
    WHERE rk <= {per_cell}
    """


@q("q_cluster_sample", _cluster_sample_sql())
def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.cluster_sample(
        table(spark, sf_dir, "embeddings"), dim=64, n_cells=8, per_cell=5
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation: recall@k of the IVF approximate search against
# the exact brute-force top-k — the measurement harness every ANN
# deployment runs before trusting an index. Both sides are
# deterministic, so the oracle composes the two existing oracle bodies
# as nested-WITH subqueries and must agree exactly.
# ---------------------------------------------------------------------------
def _ann_recall_sql() -> str:
    # q_ann_topk is dataprep's; registry imports dataprep before this module
    exact = ORACLES["q_ann_topk"]
    approx = _ann_ivf_sql()
    return f"""
    WITH exact AS (SELECT * FROM ({exact})),
    approx AS (SELECT * FROM ({approx})),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n_hits
      FROM exact e JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY e.query_id
    ),
    base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM exact
             GROUP BY query_id)
    SELECT b.query_id, b.k, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / b.k, 6) AS recall
    FROM base b LEFT JOIN hits h USING (query_id)
    """


@q("q_ann_recall", _ann_recall_sql())
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    exact = SIM.brute_force_topk(qs, emb, k=5)
    approx = SIM.ivf_topk(emb.filter(F.col("vec_id") < 8), emb, dim=64, n_probe=3)
    hits = (
        exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("k"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "k",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("k"), 6
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# k-means quality report (elbow + balance): per-(k, cell) size and
# inertia over the deterministic Lloyd quantizer, at two candidate
# widths — the measurement behind the "how many cells" decision the
# IVF family (q_ann_ivf/q_ann_ivfpq/q_cluster_sample) commits to.
# The oracle replays the shared _lloyd_chain_ctes unroll per k (nested
# WITH subqueries, the q_ann_recall composition pattern), computes each
# member's squared distance as the SAME left-associated term chain the
# Spark _sqdist fold evaluates (the _ann_pq_sql float discipline),
# rounds it, and sums in DECIMAL — exact at any accumulation order, so
# the distributed partial sums and DuckDB's sequential one land on the
# identical double (the money-sum convention applied to distances).
# ---------------------------------------------------------------------------
def _kmeans_quality_sql(
    dim: int = 64,
    k_values: tuple[int, ...] = (4, 8),
    n_iters: int = 2,
    round_to: int = 6,
) -> str:
    def sqd_chain(vec: str, cvec: str) -> str:
        # left-associated (((t1 + t2) + t3) ...): SQL + is left-assoc and
        # Spark's fold starts from 0.0 + t1 (exact: t1 is a square, so
        # +0.0 is an identity) — both engines evaluate the same order
        terms = [
            f"({vec}[{i}] - {cvec}[{i}]) * ({vec}[{i}] - {cvec}[{i}])"
            for i in range(1, dim + 1)
        ]
        return " + ".join(terms)

    arms = []
    for k in k_values:
        ctes, final_assign = _lloyd_chain_ctes(dim, k, n_iters)
        cents = f"c{n_iters}"
        body = ",\n    ".join(c.strip() for c in ctes)
        arms.append(
            f"""SELECT * FROM (
      WITH {body}
      SELECT CAST({k} AS BIGINT) AS k, CAST(a.cell AS BIGINT) AS cell,
             CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(CAST(ROUND({sqd_chain('a.v', 'c.cvec')}, {round_to})
                           AS DECIMAL(38,{round_to}))) AS DOUBLE) AS inertia
      FROM {final_assign} a JOIN {cents} c USING (cell)
      GROUP BY a.cell)"""
        )
    return "\n    UNION ALL\n    ".join(arms)


@q("q_kmeans_quality", _kmeans_quality_sql())
def q_kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = None
    for k in (4, 8):
        part = SIM.kmeans_quality(
            emb, dim=64, n_centroids=k
        ).select(F.lit(k).cast("long").alias("k"), "cell", "n_vectors", "inertia")
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# Conversion funnel over the event stream (view → click → purchase
# within 7 days of the first view): per-user min-groupBy step times —
# never per-user rank windows (the keep_best skew discipline) — and a
# final window over the 3-row summary only. Counts are exact; the two
# conversion ratios are single rounded IEEE divisions.
# ---------------------------------------------------------------------------
def _funnel_sql(
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    horizon_days: int = 7,
    round_to: int = 6,
) -> str:
    s1, s2, s3 = steps
    return f"""
    WITH ev AS (SELECT user_id AS u, ts AS t, event_type AS et FROM events
                WHERE ts IS NOT NULL),
    r1 AS (SELECT u, MIN(t) AS t1 FROM ev WHERE et = '{s1}' GROUP BY u),
    r2 AS (SELECT e.u, r1.t1, MIN(e.t) AS t2
           FROM ev e JOIN r1 ON e.u = r1.u
           WHERE e.et = '{s2}' AND e.t >= r1.t1
             AND e.t <= r1.t1 + INTERVAL {horizon_days} DAY
           GROUP BY e.u, r1.t1),
    r3 AS (SELECT e.u, MIN(e.t) AS t3
           FROM ev e JOIN r2 ON e.u = r2.u
           WHERE e.et = '{s3}' AND e.t >= r2.t2
             AND e.t <= r2.t1 + INTERVAL {horizon_days} DAY
           GROUP BY e.u),
    c AS (
      SELECT 1 AS step, '{s1}' AS step_name, COUNT(*) AS n FROM r1
      UNION ALL SELECT 2, '{s2}', COUNT(*) FROM r2
      UNION ALL SELECT 3, '{s3}', COUNT(*) FROM r3
    )
    SELECT CAST(step AS BIGINT) AS step, step_name,
           CAST(n AS BIGINT) AS n_users,
           CASE WHEN FIRST_VALUE(n) OVER (ORDER BY step) > 0
                THEN ROUND(CAST(n AS DOUBLE)
                           / FIRST_VALUE(n) OVER (ORDER BY step), {round_to})
           END AS conv_overall,
           CASE WHEN step = 1 THEN
                  CASE WHEN n > 0 THEN ROUND(CAST(n AS DOUBLE) / n, {round_to}) END
                WHEN LAG(n) OVER (ORDER BY step) > 0
                THEN ROUND(CAST(n AS DOUBLE)
                           / LAG(n) OVER (ORDER BY step), {round_to})
           END AS conv_prev
    FROM c
    """


@q("q_funnel", _funnel_sql())
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import funnel as FUN

    return FUN.funnel_steps(
        table(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        horizon="7 days",
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention over the event stream: cohort = Monday-start
# week of each user's first event (date_trunc('week') is Monday-start
# in both engines); offset = exact integer week difference; per-user
# reductions are min-groupBys (no per-user windows).
# ---------------------------------------------------------------------------
_RETENTION_SQL = """
    WITH ev AS (SELECT DISTINCT user_id AS u,
                       CAST(date_trunc('week', ts) AS DATE) AS wk
                FROM events WHERE ts IS NOT NULL),
    first AS (SELECT u, MIN(wk) AS cohort_week FROM ev GROUP BY u),
    sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM first
              GROUP BY cohort_week),
    grid AS (SELECT f.cohort_week,
                    CAST(date_diff('day', f.cohort_week, e.wk) / 7 AS BIGINT)
                      AS week_offset,
                    COUNT(*) AS n_active
             FROM ev e JOIN first f ON e.u = f.u
             GROUP BY 1, 2)
    SELECT STRFTIME(g.cohort_week, '%Y-%m-%d') AS cohort_week, g.week_offset,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(g.n_active AS BIGINT) AS n_active,
           ROUND(CAST(g.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM grid g JOIN sizes s USING (cohort_week)
    """


@q("q_retention", _RETENTION_SQL)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import funnel as FUN

    out = FUN.retention_cohorts(table(spark, sf_dir, "events"))
    # dates leave the query as formatted strings (common.py conventions:
    # engines differ in date/timestamp physical types, not strftime)
    return out.withColumn(
        "cohort_week", F.date_format("cohort_week", "yyyy-MM-dd")
    )


# ---------------------------------------------------------------------------
# SCD Type-2 snapshot build (dbt snapshot, check strategy) over a synthetic
# changelog: each l_orderkey's lineitems, ordered by (shipdate, linenumber),
# are observations of the order's (returnflag, linestatus) state; consecutive
# identical states collapse into one version with valid_from/valid_to and a
# dbt_scd_id-style surrogate id. The result summarizes the full history per
# (state, currency) so the driver hash pins version counts, observation
# conservation, validity boundaries AND the md5 id construction without
# collecting the per-key table. Reference analogue: the EMPTY snapshot
# scaffolds (Airflow/masterfindata/snapshots/, json_transform/snapshots/) —
# the operator the dbt project layout implies but never shipped.
#
# ORDER TOTALITY: the synthetic lineitem duplicates (orderkey, shipdate,
# linenumber) triples (8 at sf0.01), so those two columns alone leave the
# changelog order ambiguous and the version split engine-dependent — the
# exact failure mode scd2_from_changelog's contract names. The state
# columns join the ORDER BY as final tiebreakers in BOTH engines: the
# order becomes total up to fully-identical rows, whose relative order
# cannot affect the split (identical state never starts a version) —
# PROVIDED every downstream sort replays the SAME tie order the LAG saw.
# The change flags and the running version sum live in different query
# levels, and a window sort is free to permute fully-tied rows between
# levels: a permuted (start, non-start) flag pair inside a duplicate tie
# block lets the start flag land mid-version, silently gluing a changed
# state onto the previous version (caught by the sf1 sweep: ~30 of 7.5M
# versions, componentwise-MIN fabricated labels, scd_id collisions). The
# cure is a ROW_NUMBER assigned in the SAME window spec as the LAGs; the
# running sum orders by that rn, so every level replays one total order.
# ---------------------------------------------------------------------------
_SCD2_SQL = """
    WITH obs AS (
      SELECT l_orderkey, l_shipdate, l_linenumber, l_returnflag, l_linestatus,
             LAG(l_returnflag) OVER w AS prf,
             LAG(l_linestatus) OVER w AS pls,
             LAG(l_shipdate)   OVER w AS pord,
             ROW_NUMBER()      OVER w AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber, l_returnflag, l_linestatus)
    ),
    labeled AS (
      SELECT *, SUM(CASE WHEN pord IS NULL
                           OR prf IS DISTINCT FROM l_returnflag
                           OR pls IS DISTINCT FROM l_linestatus
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY l_orderkey ORDER BY rn
                        ROWS UNBOUNDED PRECEDING) AS ver
      FROM obs
    ),
    versions AS (
      SELECT l_orderkey, ver,
             MIN(l_shipdate) AS valid_from,
             COUNT(*) AS n_observations,
             MIN(l_returnflag) AS l_returnflag,
             MIN(l_linestatus) AS l_linestatus
      FROM labeled GROUP BY l_orderkey, ver
    ),
    hist AS (
      SELECT *,
             LEAD(valid_from) OVER (PARTITION BY l_orderkey ORDER BY ver)
               AS valid_to,
             MD5(CONCAT_WS('-',
                 COALESCE(CAST(l_orderkey AS VARCHAR),
                          '_dbt_utils_surrogate_key_null_'),
                 COALESCE(CAST(valid_from AS VARCHAR),
                          '_dbt_utils_surrogate_key_null_'))) AS scd_id
      FROM versions
    )
    SELECT l_returnflag, l_linestatus,
           (valid_to IS NULL) AS is_current,
           COUNT(*) AS n_versions,
           COUNT(DISTINCT l_orderkey) AS n_keys,
           CAST(SUM(n_observations) AS BIGINT) AS n_obs,
           CAST(MIN(valid_from) AS VARCHAR) AS first_from,
           CAST(MAX(valid_from) AS VARCHAR) AS last_from,
           CAST(MAX(valid_to) AS VARCHAR) AS last_to,
           COUNT(DISTINCT scd_id) AS n_scd_ids,
           MIN(scd_id) AS min_scd_id,
           MAX(scd_id) AS max_scd_id
    FROM hist
    GROUP BY 1, 2, 3
    """


@q("q_scd2_history", _SCD2_SQL)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import scd as SCD

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linenumber", "l_returnflag", "l_linestatus"
    )
    hist = SCD.scd2_from_changelog(
        li,
        key_cols=["l_orderkey"],
        order_cols=["l_shipdate", "l_linenumber", "l_returnflag", "l_linestatus"],
        state_cols=["l_returnflag", "l_linestatus"],
    )
    # r12 (VERDICT r11 #6): min/max of the 32-hex scd_id are STRING
    # aggregates, whose buffers Spark cannot hash-aggregate — with them
    # in the main agg the whole Expand(×3, two exact countDistincts)
    # ran through SortAggregate. Splitting them into their own tiny
    # agg over the PERSISTED version table lets the main agg go
    # HashAggregate without re-running the three window passes (the
    # r11 no-persist split was rejected for exactly that rescan;
    # interleaved min-of-8 at sf0.1: 1.89 → 1.67 s, outputs equal).
    # The md5-decomposition alternative is provably impossible in one
    # hash pass: lexicographic min of 128 bits needs a 2^128-ordered
    # mutable buffer, and Spark's widest (DECIMAL(38)) holds < 2^127.
    # Scale posture: hist is the post-aggregation version table (small
    # rows), persisted MEMORY_AND_DISK and released with the dedup
    # cache registry.
    from ..operators.dedup import _persist

    hist = _persist(hist)
    k = ["l_returnflag", "l_linestatus", "is_current"]
    main = hist.groupBy(*k).agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.countDistinct("l_orderkey").alias("n_keys"),
        F.sum("n_observations").cast("long").alias("n_obs"),
        F.min("valid_from").cast("string").alias("first_from"),
        F.max("valid_from").cast("string").alias("last_from"),
        F.max("valid_to").cast("string").alias("last_to"),
        F.countDistinct("scd_id").alias("n_scd_ids"),
    )
    mm = hist.groupBy(*k).agg(
        F.min("scd_id").alias("min_scd_id"),
        F.max("scd_id").alias("max_scd_id"),
    ).select(*[F.col(c).alias(f"mm_{c}") for c in k], "min_scd_id", "max_scd_id")
    # null-safe: a NULL flag or status is a group of its own, as in the SQL
    on = [main[c].eqNullSafe(mm[f"mm_{c}"]) for c in k]
    return main.join(mm, on).select(
        "l_returnflag", "l_linestatus", "is_current", "n_versions",
        "n_keys", "n_obs", "first_from", "last_from", "last_to",
        "n_scd_ids", "min_scd_id", "max_scd_id",
    )


# ---------------------------------------------------------------------------
# Integer fixed-point PageRank over the nation-level trade graph — the
# Common-Crawl-host-rank posture for source-quality filtering: the edge
# derivation is the full star join at corpus scale (distinct supplier-
# nation -> customer-nation pairs), the rank recurrence is exact BIGINT
# fixed-point (Spark DIV == DuckDB // on non-negative operands), so five
# unrolled iterations are bit-identical across engines and partitionings
# — no float-sum order dependence anywhere.
# ---------------------------------------------------------------------------
def _pagerank_sql(iters: int = 5, d: int = 85, unit: int = 10**12) -> str:
    ctes = [
        """e AS MATERIALIZED (
      SELECT DISTINCT ns.n_name AS src, nc.n_name AS dst
      FROM lineitem
      JOIN orders   ON l_orderkey  = o_orderkey
      JOIN customer ON o_custkey   = c_custkey
      JOIN supplier ON l_suppkey   = s_suppkey
      JOIN nation ns ON s_nationkey = ns.n_nationkey
      JOIN nation nc ON c_nationkey = nc.n_nationkey
    )""",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY src)",
        "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        f"""r0 AS MATERIALIZED (
      SELECT node, COALESCE(out_deg, CAST(0 AS BIGINT)) AS out_deg, n,
             {unit} // n AS rank_units
      FROM nodes LEFT JOIN deg ON node = src CROSS JOIN nt
    )""",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""s{i} AS (
      SELECT node AS src, rank_units // out_deg AS share
      FROM r{p} WHERE out_deg > 0
    )"""
        )
        ctes.append(
            f"""f{i} AS (
      SELECT dst, CAST(SUM(share) AS BIGINT) AS in_sum
      FROM e JOIN s{i} USING (src) GROUP BY dst
    )"""
        )
        ctes.append(
            f"""d{i} AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN out_deg = 0 THEN rank_units END), 0)
                  AS BIGINT) AS dang
      FROM r{p}
    )"""
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
      SELECT r.node, r.out_deg, r.n,
             CAST(((100 - {d}) * ({unit} // r.n)) // 100
                  + ({d} * (COALESCE(f.in_sum, 0) + (dd.dang // r.n))) // 100
               AS BIGINT) AS rank_units
      FROM r{p} r LEFT JOIN f{i} f ON r.node = f.dst CROSS JOIN d{i} dd
    )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT node, rank_units,
           CAST(rank_units AS DOUBLE) / {float(unit)!r} AS rank
    FROM r{iters}
    """
    )


@q("q_pagerank", _pagerank_sql())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graphrank as GR

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na.alias("ns")), F.col("s_nationkey") == F.col("ns.n_nationkey"))
        .join(F.broadcast(na.alias("nc")), F.col("c_nationkey") == F.col("nc.n_nationkey"))
        .select(F.col("ns.n_name").alias("src"), F.col("nc.n_name").alias("dst"))
        .distinct()
    )
    return GR.pagerank(edges, iters=5, damping_pct=85)


# ---------------------------------------------------------------------------
# CDC changelog compaction (operators/cdc.py): events replayed as a
# last-writer-wins feed keyed by user — 'error' maps to a delete op, so a
# user whose final event errored drops out of the snapshot. The Spark side
# is ONE map-side-combinable groupBy(max(struct)); the oracle replays the
# same total order (ts, event_id) as a rank window.
# ---------------------------------------------------------------------------
@q(
    "q_cdc_apply",
    """
    WITH ch AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM ch
    )
    SELECT user_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM ranked
    WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cdc as CDC

    e = table(spark, sf_dir, "events")
    changes = e.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    snap = CDC.cdc_apply(
        changes, key_cols=["user_id"], seq_cols=["ts", "event_id"]
    )
    return snap.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Z-order layout key (operators/layout.py): the Morton curve over
# (l_partkey, l_suppkey), reported as per-cell occupancy + per-dimension
# spread — the stats a layout job would write as file-level min/max. The
# oracle replays the interleave bit-for-bit from the SAME SQL template
# (zorder_sql_expr / scale_sql_expr), deriving bounds in-query where the
# operator collects them (exact integer min/max on both engines).
# ---------------------------------------------------------------------------
def _zorder_cells_sql(bits: int = 16, cell_shift: int = 24) -> str:
    from ..operators.layout import scale_sql_expr, zorder_sql_expr

    sp = scale_sql_expr("l_partkey", "b.plo", "b.phi", bits, div="//")
    ss = scale_sql_expr("l_suppkey", "b.slo", "b.shi", bits, div="//")
    z = zorder_sql_expr([sp, ss], bits, div="//")
    return f"""
    WITH b AS (
      SELECT MIN(l_partkey) AS plo, MAX(l_partkey) AS phi,
             MIN(l_suppkey) AS slo, MAX(l_suppkey) AS shi
      FROM lineitem
    ),
    z AS (
      SELECT {z} AS zv, l_partkey, l_suppkey
      FROM lineitem, b
    )
    SELECT CAST(zv // {1 << cell_shift} AS BIGINT) AS z_cell,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS part_min, MAX(l_partkey) AS part_max,
           MIN(l_suppkey) AS supp_min, MAX(l_suppkey) AS supp_max
    FROM z GROUP BY 1
    """


@q("q_zorder_cells", _zorder_cells_sql())
def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import layout as ZL

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    keyed = ZL.with_zorder_key(li, ["l_partkey", "l_suppkey"], bits=16)
    return keyed.groupBy(
        F.expr(f"{ZL.Z_COL} DIV {1 << 24}").cast("long").alias("z_cell")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("part_min"),
        F.max("l_partkey").alias("part_max"),
        F.min("l_suppkey").alias("supp_min"),
        F.max("l_suppkey").alias("supp_max"),
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy matching (operators/fuzzy.py): SymSpell symmetric-
# deletion blocking over customer names, exact levenshtein verification,
# per-name neighbor audit view. The oracle replays the same variant
# explode -> banded equi-join -> levenshtein pipeline; candidate
# completeness vs brute force is pytest-enforced separately.
# ---------------------------------------------------------------------------
@q(
    "q_fuzzy_match",
    """
    WITH names AS (SELECT c_custkey AS id, c_name AS s FROM customer),
    vars AS (
      SELECT DISTINCT id, s,
             CASE WHEN p = 0 THEN s
                  ELSE substr(s, 1, p - 1) || substr(s, p + 1) END AS v
      FROM names, UNNEST(range(0, length(s) + 1)) AS t(p)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
      FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id
    ),
    match AS (SELECT * FROM cand WHERE levenshtein(s_a, s_b) <= 1),
    mirrored AS (
      SELECT s_a AS name, s_b AS other FROM match
      UNION ALL
      SELECT s_b AS name, s_a AS other FROM match
    )
    SELECT name, CAST(COUNT(*) AS BIGINT) AS n_neighbors, MIN(other) AS nearest
    FROM mirrored GROUP BY name
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell fuzzy neighbor audit over customer names.

    Largest-scale harness bound: the synthetic names are dense in edit
    space, so the OUTPUT pair set (and both engines' banded join) grows
    superlinearly with corpus size — the full sf10 run exceeds a sweep
    chunk on this box. Green through sf1 (817 s parity run, r8);
    q_fuzzy_match_sampled carries the sf10 cross-engine signal."""
    from ..operators import fuzzy as FZ

    cust = table(spark, sf_dir, "customer")
    return FZ.fuzzy_neighbor_counts(cust, "c_custkey", "c_name")


@q(
    "q_fuzzy_match_sampled",
    """
    WITH names AS (
      SELECT c_custkey AS id, c_name AS s FROM customer
      WHERE SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    ),
    vars AS (
      SELECT DISTINCT id, s,
             CASE WHEN p = 0 THEN s
                  ELSE substr(s, 1, p - 1) || substr(s, p + 1) END AS v
      FROM names, UNNEST(range(0, length(s) + 1)) AS t(p)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
      FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id
    ),
    match AS (SELECT * FROM cand WHERE levenshtein(s_a, s_b) <= 1),
    mirrored AS (
      SELECT s_a AS name, s_b AS other FROM match
      UNION ALL
      SELECT s_b AS name, s_a AS other FROM match
    )
    SELECT name, CAST(COUNT(*) AS BIGINT) AS n_neighbors, MIN(other) AS nearest
    FROM mirrored GROUP BY name
    """,
)
def q_fuzzy_match_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-scale verification arm of q_fuzzy_match (the sampled-
    arm pattern of q_bpe_encode_ids_sampled / q_sec_json_doc_sampled):
    the IDENTICAL variant-explode → banded equi-join → levenshtein →
    neighbor-audit pipeline over a deterministic md5 1/4 stratum of
    customers. The synthetic customer names are dense in edit space, so
    the full query's OUTPUT (and both engines' pair join) grows
    superlinearly with corpus size — the stratum keeps the sf10 run
    inside a sweep chunk while exercising every stage cross-engine;
    candidate COMPLETENESS vs brute force stays pytest-enforced on the
    full operator."""
    from ..operators import fuzzy as FZ

    cust = table(spark, sf_dir, "customer").where(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    )
    return FZ.fuzzy_neighbor_counts(cust, "c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Column profiler (checks.profile_table): the dbt-docs/catalog statistics
# page over lineitem — one scan, every aggregate in one agg, stack() to
# long form. The oracle unions one SELECT per column with the same
# dtype-stable renders (doubles through DECIMAL(28,6), timestamps
# through strftime).
# ---------------------------------------------------------------------------
_LINEITEM_PROFILE_TYPES = {
    "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
    "l_linenumber": "int", "l_quantity": "dbl", "l_extendedprice": "dbl",
    "l_discount": "dbl", "l_tax": "dbl", "l_returnflag": "str",
    "l_linestatus": "str", "l_shipdate": "ts",
}


def _profile_sql() -> str:
    render = {
        "int": "CAST({m}({c}) AS VARCHAR)",
        "dbl": "CAST(CAST({m}({c}) AS DECIMAL(28,6)) AS VARCHAR)",
        "str": "{m}({c})",
        "ts": "STRFTIME({m}({c}), '%Y-%m-%d %H:%M:%S')",
    }
    parts = []
    for c, t in _LINEITEM_PROFILE_TYPES.items():
        mn = render[t].format(m="MIN", c=c)
        mx = render[t].format(m="MAX", c=c)
        parts.append(
            f"""SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {mn} AS min_value, {mx} AS max_value FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


@q("q_profile", _profile_sql())
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..checks import profile_table

    return profile_table(table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Interval-overlap join (operators/interval.py): which user sessions
# overlapped an error-hour window (incident impact analysis). The Spark
# side runs the bucketized band join (no nested loop — plan-pinned in
# test_interval); the oracle states the SEMANTICS as a plain inequality
# join, so a hash match proves the banding machinery, and exactness /
# width-invariance are pytest-pinned besides.
# ---------------------------------------------------------------------------
@q(
    "q_interval_join",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM seq
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS sess_id
      FROM flagged
    ), sessions AS (
      SELECT user_id, sess_id, MIN(ts) AS s_start, MAX(ts) AS s_end,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, sess_id
    ), wins AS (
      SELECT DISTINCT DATE_TRUNC('hour', ts) AS w_start,
             DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR - INTERVAL 1 MICROSECOND
               AS w_end
      FROM events WHERE event_type = 'error'
    )
    SELECT s.user_id,
           CAST(s.sess_id AS BIGINT) AS sess_id,
           STRFTIME(s.s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(s.n_events AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_error_windows
    FROM sessions s
    JOIN wins w ON s.s_start <= w.w_end AND w.w_start <= s.s_end
    GROUP BY s.user_id, s.sess_id, s.s_start, s.n_events
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.interval import interval_join

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    numbered = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("sess_id", F.sum(new_sess).over(w))
    )
    sessions = (
        numbered.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("sess_id").cast("long").alias("sess_id"),
            "s_start",
            "n_events",
            F.unix_micros("s_start").alias("s_lo"),
            F.unix_micros("s_end").alias("s_hi"),
        )
    )
    wins = (
        e.where(F.col("event_type") == "error")
        .select(F.date_trunc("hour", "ts").alias("w_start"))
        .distinct()
        .select(
            F.unix_micros("w_start").alias("w_lo"),
            (F.unix_micros("w_start") + F.lit(3_600_000_000 - 1)).alias("w_hi"),
        )
    )
    hits = interval_join(
        sessions, wins, "s_lo", "s_hi", "w_lo", "w_hi",
        bucket_width=3_600_000_000,
    )
    return hits.groupBy("user_id", "sess_id", "s_start", "n_events").agg(
        F.count(F.lit(1)).cast("long").alias("n_error_windows")
    ).select(
        "user_id", "sess_id",
        F.date_format("s_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events", "n_error_windows",
    )
