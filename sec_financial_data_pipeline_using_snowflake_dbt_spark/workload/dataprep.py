"""Training-data-pipeline workload: deduplication, similarity search,
text analysis over the ``documents`` and ``embeddings`` tables — the
100 TB-scale extension operators, each with a DuckDB oracle.

The Spark side delegates to the real operator implementations in
``operators/dedup.py``, ``operators/similarity.py``,
``operators/textops.py``; the SQL here re-derives the same math so the
driver can hash-match values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..operators import textops as TO
from .common import ORACLES, q, require_sql_surgery, table


# Shared SQL fragments (DuckDB): tokenization identical to functions/text.py
SQL_TOKENS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"
SQL_DTOKENS = f"list_distinct({SQL_TOKENS})"


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content fingerprint.
# ---------------------------------------------------------------------------
@q(
    "q_dedup_exact",
    """
    SELECT MD5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dupes
    FROM documents
    GROUP BY MD5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# N-gram (token-set) Jaccard near-dup pairs, blocked by language.
# ---------------------------------------------------------------------------
@q(
    "q_dedup_jaccard",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST({SQL_DTOKENS}) AS token FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ovl
      FROM toks a JOIN toks b ON a.token = b.token AND a.lang = b.lang
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(ovl AS DOUBLE) / CAST(sa.sz + sb.sz - ovl AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE ROUND(CAST(ovl AS DOUBLE) / CAST(sa.sz + sb.sz - ovl AS DOUBLE), 6) >= 0.8
    """,
)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Largest-scale harness bound: the exact Jaccard is the quadratic
    # postings self-join BY DESIGN (the oracle surface); the sampled
    # arm below carries the sf10 cross-engine signal, and
    # minhash_lsh_pairs is the at-scale production path.
    return DD.ngram_jaccard_pairs(table(spark, sf_dir, "documents"), threshold=0.8)


_JACCARD_SAMPLED_SQL = ORACLES["q_dedup_jaccard"].replace(
    f"SELECT doc_id, lang, UNNEST({SQL_DTOKENS}) AS token FROM documents",
    f"SELECT doc_id, lang, UNNEST({SQL_DTOKENS}) AS token FROM documents\n"
    "      WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'",
)
_JACCARD_SAMPLED_SQL = require_sql_surgery(
    _JACCARD_SAMPLED_SQL, ORACLES["q_dedup_jaccard"],
    "q_dedup_jaccard_sampled", "SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'",
)
require_sql_surgery(
    _JACCARD_SAMPLED_SQL, ORACLES["q_dedup_jaccard"],
    "q_dedup_jaccard_sampled", "FROM documents",
)


@q("q_dedup_jaccard_sampled", _JACCARD_SAMPLED_SQL)
def q_dedup_jaccard_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-scale verification arm of q_dedup_jaccard (VERDICT r9
    #1, the sampled-arm pattern of q_dedup_simhash64_sampled): the
    identical uncapped exact-Jaccard postings self-join over a
    deterministic md5 1/16 stratum of documents, which bounds the
    intentionally-quadratic join (~1/256 of the pair work) inside a
    sweep chunk at the largest scale. Within-stratum pairs on both
    engines; the full exact arm stays the contract at the scales both
    engines can replay, and the minhash arm stays the production
    posture."""
    docs = table(spark, sf_dir, "documents").where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    )
    return DD.ngram_jaccard_pairs(docs, threshold=0.8)


# ---------------------------------------------------------------------------
# MinHash + banded LSH candidate pairs (md5 hash family, 8 hashes,
# 4 bands × 2 rows). The CTE fragments are shared — ONE source of truth
# for the shingle slice / seed range / band split — between
# q_dedup_minhash, q_dedup_clusters and the q_corpus_pipeline near-dup
# arm (code-review r5: the three copies could silently desync).
# ---------------------------------------------------------------------------
def _minhash_pairs_ctes(src: str) -> str:
    """MinHash banded-LSH candidate-pair CTEs (``nd_tk``..``nd_pairs``)
    over any (doc_id, text) source. Parameters mirror the Spark call
    sites: 3-token shingles, 8 md5 seed-hashes, 4 bands × 2 rows."""
    return f"""
    nd_tk AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM {src}),
    nd_sh AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> array_to_string(toks[i:i+2], '␟')))) AS shingle
      FROM nd_tk
    ),
    nd_mh AS (
      SELECT doc_id, seed,
             MIN(MD5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
      FROM nd_sh CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS seed) s
      GROUP BY doc_id, seed
    ),
    nd_band AS (
      SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
             MD5(STRING_AGG(CAST(seed AS VARCHAR) || '=' || minhash, '|'
                 ORDER BY CAST(seed AS VARCHAR) || '=' || minhash)) AS sig
      FROM nd_mh GROUP BY doc_id, CAST(seed // 2 AS INTEGER)
    ),
    nd_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM nd_band a JOIN nd_band b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    )"""


def _neardup_canon_sql_from(src: str) -> str:
    """Pairs + recursive-CTE connected components + canonical selection
    over any (doc_id, text) source. Extends ``_minhash_pairs_ctes`` with
    ``nd_edges``/``nd_reach``/``canon`` (the doc_ids to keep: component
    minima, which includes every singleton). Callers must open the WITH
    list with RECURSIVE."""
    return f"""
    {_minhash_pairs_ctes(src)},
    nd_edges AS (
      SELECT id_a AS src, id_b AS dst FROM nd_pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM nd_pairs
    ),
    nd_reach(id, node) AS (
      SELECT doc_id, doc_id FROM {src}
      UNION
      SELECT r.id, e.dst FROM nd_reach r JOIN nd_edges e ON e.src = r.node
    ),
    canon AS (
      SELECT id AS doc_id FROM nd_reach GROUP BY id HAVING MIN(node) = id
    )"""


@q(
    "q_dedup_minhash",
    f"""
    WITH {_minhash_pairs_ctes("documents")}
    SELECT id_a, id_b FROM nd_pairs
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), num_hashes=8, bands=4, shingle_n=3
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs (16-bit portable simhash, Hamming ≤ 3, blocked
# by language).
# ---------------------------------------------------------------------------
@q(
    "q_dedup_simhash",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, lang, UNNEST({SQL_DTOKENS}) AS token FROM documents
    ),
    bits AS (
      SELECT doc_id, lang, pos,
             CASE WHEN SUBSTR(MD5(token), CAST(pos AS INTEGER), 1)
                       IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS vote
      FROM toks CROSS JOIN (SELECT UNNEST(generate_series(1, 16)) AS pos) p
    ),
    perbit AS (
      SELECT doc_id, lang, pos, CASE WHEN SUM(vote) > 0 THEN 1 ELSE 0 END AS bit
      FROM bits GROUP BY doc_id, lang, pos
    ),
    sh AS (
      SELECT doc_id, lang, CAST(SUM(bit * (1 << CAST(16 - pos AS INTEGER))) AS BIGINT) AS simhash
      FROM perbit GROUP BY doc_id, lang
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS INTEGER) <= 3
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the oracle encodes the 16-bit salted-digest layout
    return DD.simhash_pairs(table(spark, sf_dir, "documents"), n_bits=16)


# ---------------------------------------------------------------------------
# 64-bit SimHash near-dup pairs — the LARGE-CORPUS width (NOTES_r6 §2:
# 16 bits saturates beyond ~50k docs; chance hamming<=3 collisions make
# the output quadratic). Same banded plan, wider fingerprint. The oracle
# cannot build one 64-bit value (the sign bit overflows DuckDB's checked
# BIGINT sum) and does not need to: only the Hamming distance is output,
# and it decomposes over two 32-bit halves — bits 1-32 vote on digits of
# md5(token), bits 33-64 on digits of md5(token || '~'), exactly the
# engine's salted-digest layout (operators/dedup.py simhash()).
# ---------------------------------------------------------------------------
@q(
    "q_dedup_simhash64",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, lang, UNNEST({SQL_DTOKENS}) AS token FROM documents
    ),
    bits AS (
      SELECT doc_id, lang, half, pos,
             CASE WHEN SUBSTR(CASE WHEN half = 0 THEN MD5(token)
                                   ELSE MD5(token || '~') END,
                              CAST(pos AS INTEGER), 1)
                       IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS vote
      FROM toks
      CROSS JOIN (SELECT UNNEST(generate_series(0, 1)) AS half) h
      CROSS JOIN (SELECT UNNEST(generate_series(1, 32)) AS pos) p
    ),
    perbit AS (
      SELECT doc_id, lang, half, pos, CASE WHEN SUM(vote) > 0 THEN 1 ELSE 0 END AS bit
      FROM bits GROUP BY doc_id, lang, half, pos
    ),
    sh AS (
      SELECT doc_id, lang,
             CAST(SUM(CASE WHEN half = 0
                           THEN bit * (CAST(1 AS BIGINT) << CAST(32 - pos AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN half = 1
                           THEN bit * (CAST(1 AS BIGINT) << CAST(32 - pos AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS lo
      FROM perbit GROUP BY doc_id, lang
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(BIT_COUNT(XOR(a.hi, b.hi)) + BIT_COUNT(XOR(a.lo, b.lo))
                AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(BIT_COUNT(XOR(a.hi, b.hi)) + BIT_COUNT(XOR(a.lo, b.lo))
               AS INTEGER) <= 3
    """,
)
def q_dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs, blocked by lang.

    Largest-scale harness bound: the ENGINE computes the 64 bit votes
    as aggregate COLUMNS of one groupBy, but the ORACLE must explode 64
    rows per (doc, token) — tens of billions of rows at the largest
    test scale, beyond any DuckDB spill budget this box has (ENOSPC at
    40+ GB of spill). Green through sf1; the sampled arm below carries
    the larger-scale cross-engine signal."""
    return DD.simhash_pairs(table(spark, sf_dir, "documents"), n_bits=64)


_SIMHASH64_SAMPLED_SQL = ORACLES["q_dedup_simhash64"].replace(
    f"SELECT DISTINCT doc_id, lang, UNNEST({SQL_DTOKENS}) AS token FROM documents",
    f"SELECT DISTINCT doc_id, lang, UNNEST({SQL_DTOKENS}) AS token FROM documents\n"
    "      WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'",
)
_SIMHASH64_SAMPLED_SQL = require_sql_surgery(
    _SIMHASH64_SAMPLED_SQL, ORACLES["q_dedup_simhash64"],
    "q_dedup_simhash64_sampled", "SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'",
)


@q("q_dedup_simhash64_sampled", _SIMHASH64_SAMPLED_SQL)
def q_dedup_simhash64_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-scale verification arm of q_dedup_simhash64 (the
    sampled-arm pattern): the identical 64-bit salted-digest signature
    build and value-level pigeonhole band join over a deterministic md5
    1/16 stratum of documents, which keeps the oracle's 64-rows-per-
    token explode inside the box's spill budget at the largest scale.
    Within-stratum pairs on both engines; the full-width query stays
    the contract through sf1."""
    docs = table(spark, sf_dir, "documents").where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    )
    return DD.simhash_pairs(docs, n_bits=64)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs, blocked by label.
# ---------------------------------------------------------------------------
@q(
    "q_dedup_embedding",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 3) AS cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 3) >= 0.35
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact label-blocked cosine pairs — the quadratic oracle surface
    (the scale paths are lsh/semantic/cluster). sf10 status (r11):
    GREEN in agg-compare mode, 8295 s (artifacts/sweep_sf10_r11.jsonl,
    "mode": "agg"). Root cause of the r10 JVM death: the OUTPUT is
    ~9.08e8 pairs (~20+ GiB per engine) — the full sorted compare's
    materialization, not the join; both engines now reduce to
    (count, canonical row-checksum) engine-side
    (oracle_harness.compare_agg) and only two scalars cross the
    gateway. The sampled arm below remains the cheap per-sweep
    signal."""
    return DD.embedding_neardup_pairs(table(spark, sf_dir, "embeddings"), threshold=0.35)


_EMBEDDING_SAMPLED_SQL = ORACLES["q_dedup_embedding"].replace(
    "FROM embeddings",
    "FROM embeddings\n"
    "               WHERE SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'",
)
_EMBEDDING_SAMPLED_SQL = require_sql_surgery(
    _EMBEDDING_SAMPLED_SQL, ORACLES["q_dedup_embedding"],
    "q_dedup_embedding_sampled", "SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'",
)
require_sql_surgery(
    _EMBEDDING_SAMPLED_SQL, ORACLES["q_dedup_embedding"],
    "q_dedup_embedding_sampled", "FROM embeddings",
)


@q("q_dedup_embedding_sampled", _EMBEDDING_SAMPLED_SQL)
def q_dedup_embedding_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-scale verification arm of q_dedup_embedding (the r9/r10
    sampled-arm pattern): the identical label-blocked exact-cosine pair
    join over a deterministic md5 1/16 stratum of embeddings, bounding
    the intentionally-quadratic arm (~1/256 of the pair work) inside a
    sweep chunk at the largest scale. Within-stratum pairs on both
    engines; the full exact arm stays the contract at the scales both
    engines can replay."""
    emb = table(spark, sf_dir, "embeddings").where(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) == "0"
    )
    return DD.embedding_neardup_pairs(emb, threshold=0.35)


# ---------------------------------------------------------------------------
# ANN: brute-force cosine top-k (exact baseline; queries = vec_id < 8).
# ---------------------------------------------------------------------------
@q(
    "q_ann_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(q.v, c.v), 3) AS cos
      FROM e q JOIN e c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, cos,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(
        emb.filter(F.col("vec_id") < 8), emb, k=5
    ).select("query_id", "neighbor_id", "cos", "rank")


# ---------------------------------------------------------------------------
# Text quality scoring.
# ---------------------------------------------------------------------------
@q(
    "q_text_quality",
    f"""
    WITH base AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LEN({SQL_TOKENS}) AS BIGINT) AS n_tokens,
             text
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS avg_token_len,
           ROUND(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                 / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
           CAST(CEIL(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens,
           CAST(n_tokens >= 5
                AND ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) >= 2.0
                AND ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) <= 12.0
                AS INTEGER) AS quality_keep
    FROM base
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.text_quality(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Language-ID heuristic (marker-word scores + argmax).
# ---------------------------------------------------------------------------
def _lang_sql() -> str:
    from ..functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_cols = []
    for lang in langs:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_cols.append(
            f"CAST(LEN(list_filter({SQL_TOKENS}, t -> t IN ({markers}))) AS BIGINT) AS score_{lang}"
        )
    greatest = "GREATEST(" + ", ".join(f"score_{la}" for la in langs) + ")"
    pred_cases = " ".join(
        f"WHEN score_{la} = {greatest} THEN '{la}'" for la in langs
    )
    return f"""
    WITH scored AS (SELECT doc_id, {", ".join(score_cols)} FROM documents)
    SELECT doc_id, {", ".join(f"score_{la}" for la in langs)},
           CASE {pred_cases} END AS pred_lang
    FROM scored
    """


@q("q_language_id", _lang_sql())
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.language_id(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Document fingerprinting (normalized-text md5).
# ---------------------------------------------------------------------------
@q(
    "q_fingerprint",
    r"""
    SELECT doc_id,
           MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[.,!?;:]', '', 'g'),
                                   '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.fingerprints(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deterministic corpus splitting (md5-bucketed train/val/test).
# ---------------------------------------------------------------------------
_HEX = "0123456789abcdef"
_SQL_HEX_BYTE = " + ".join(
    f"(STRPOS('{_HEX}', SUBSTR(h, {i}, 1)) - 1) * {16 ** (4 - i)}" for i in range(1, 5)
)


@q(
    "q_corpus_split",
    f"""
    WITH hashed AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
    b AS (SELECT doc_id, CAST(({_SQL_HEX_BYTE}) % 100 AS INTEGER) AS bucket FROM hashed)
    SELECT doc_id, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.assign_split(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Stratified sampling — deterministic hash-threshold sampler (pure
# function of the row id, so the oracle replays it exactly; the sampleBy
# variant stays available for Bernoulli-style sampling and is covered by
# rate-assertion tests).
# ---------------------------------------------------------------------------
_SQL_HEX8 = " + ".join(
    f"(STRPOS('{_HEX}', SUBSTR(h, {i}, 1)) - 1) * {16 ** (8 - i)}" for i in range(1, 9)
)

_SAMPLE_FRACTIONS = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
_SQL_SAMPLE_THR = (
    "CASE lang "
    + " ".join(
        f"WHEN '{s}' THEN {int(round(f * 1_000_000))}"
        for s, f in sorted(_SAMPLE_FRACTIONS.items())
    )
    + " ELSE -1 END"
)


@q(
    "q_stratified_sample",
    f"""
    WITH hashed AS (
      SELECT doc_id, lang,
             MD5(CAST(doc_id AS VARCHAR) || ':' || 'sample') AS h
      FROM documents
    )
    SELECT doc_id, lang
    FROM hashed
    WHERE ({_SQL_HEX8}) % 1000000 < {_SQL_SAMPLE_THR}
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return TO.stratified_sample_hash(docs, "lang", _SAMPLE_FRACTIONS).select(
        "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# Cluster resolution: minhash near-dup pairs → connected components →
# canonical-doc selection (keep the minimum id per component). The
# oracle replays the banded-minhash pair SQL and closes it transitively
# with a recursive CTE — DuckDB walks reachability over the symmetric
# edge set, so MIN(reachable id) is exactly the component minimum the
# iterative min-label propagation converges to.
# ---------------------------------------------------------------------------
@q(
    "q_dedup_clusters",
    f"""
    WITH RECURSIVE {_neardup_canon_sql_from("documents")}
    SELECT id AS doc_id, MIN(node) AS cluster_id, MIN(node) = id AS keep
    FROM nd_reach GROUP BY id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(docs, num_hashes=8, bands=4, shingle_n=3)
    clusters = DD.dedup_clusters(pairs, nodes=docs.select("doc_id"))
    return clusters.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Delta dedup: candidates for the NEW batch (doc_id >= 400) against
# the EXISTING corpus plus within the batch — never materializing
# existing x existing. The oracle is the whole-corpus banded chain
# with the both-existing pairs removed (the operator computes the
# same set with the new band table as the join's left side).
# ---------------------------------------------------------------------------
_DELTA_SPLIT_ID = 400


@q(
    "q_dedup_delta",
    f"""
    WITH {_minhash_pairs_ctes("documents")}
    SELECT id_a, id_b FROM nd_pairs
    WHERE NOT (id_a < {_DELTA_SPLIT_ID} AND id_b < {_DELTA_SPLIT_ID})
    """,
)
def q_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs_delta(
        docs.filter(F.col("doc_id") >= _DELTA_SPLIT_ID),
        docs.filter(F.col("doc_id") < _DELTA_SPLIT_ID),
        num_hashes=8,
        bands=4,
        shingle_n=3,
    )


# ---------------------------------------------------------------------------
# Bloom-filter ingest dedup: the O(m)-memory exact-dedup recurrence
# (Dolma posture). Positions are md5-derived, so both engines compute
# the identical bit set; the oracle replays build + probe as the
# position-table formulation (semantics-equal to the Spark literal
# bitmap arm, which is mechanism, not semantics). n_hit counts hash
# SLOTS, not distinct positions — the LEFT JOIN + COUNT matches the
# per-slot fold.
# ---------------------------------------------------------------------------
_BLOOM_M = 2048
_BLOOM_K = 3


def _sql_hex15(expr: str) -> str:
    """First 15 hex digits of an md5 VARCHAR as an exact BIGINT (< 2^60)."""
    return " + ".join(
        f"(STRPOS('{_HEX}', SUBSTR({expr}, {i}, 1)) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )


def _bloom_sql(m_bits: int = _BLOOM_M, k: int = _BLOOM_K, split: int = 400) -> str:
    return f"""
    WITH slots AS (SELECT UNNEST(generate_series(0, {k - 1})) AS i),
    newd AS (SELECT doc_id, MD5(text) AS h FROM documents
             WHERE doc_id >= {split}),
    ex AS (SELECT DISTINCT MD5(text) AS h FROM documents
           WHERE doc_id < {split}),
    newp AS (
      SELECT doc_id, MD5(h || ':' || CAST(i AS VARCHAR)) AS hp
      FROM newd CROSS JOIN slots
    ),
    newpos AS (SELECT doc_id, ({_sql_hex15("hp")}) % {m_bits} AS pos FROM newp),
    exp_ AS (
      SELECT MD5(h || ':' || CAST(i AS VARCHAR)) AS hp FROM ex CROSS JOIN slots
    ),
    expos AS (SELECT DISTINCT ({_sql_hex15("hp")}) % {m_bits} AS pos FROM exp_),
    hits AS (
      SELECT n.doc_id, CAST(COUNT(b.pos) AS BIGINT) AS n_hit
      FROM newpos n LEFT JOIN expos b USING (pos)
      GROUP BY n.doc_id
    )
    SELECT d.doc_id, h.n_hit,
           CAST(CASE WHEN h.n_hit = {k} THEN 1 ELSE 0 END AS BIGINT)
             AS maybe_dup,
           CAST(CASE WHEN d.h IN (SELECT h FROM ex) THEN 1 ELSE 0 END
                AS BIGINT) AS exact_dup,
           CAST(CASE WHEN h.n_hit = {k}
                      AND d.h NOT IN (SELECT h FROM ex)
                     THEN 1 ELSE 0 END AS BIGINT) AS false_positive
    FROM newd d JOIN hits h USING (doc_id)
    """


@q("q_bloom_dedup", _bloom_sql())
def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return DD.bloom_dedup(
        docs.filter(F.col("doc_id") >= 400),
        docs.filter(F.col("doc_id") < 400),
        m_bits=_BLOOM_M,
        k=_BLOOM_K,
    )


# ---------------------------------------------------------------------------
# Candidate-pair verification: exact shingle Jaccard for each banded
# MinHash candidate (the production precision fix after LSH —
# candidates -> verify -> clusters). Intersections are computed for
# candidate pairs ONLY — never the quadratic shingle self-join of the
# recall harness's truth arm.
# ---------------------------------------------------------------------------
@q(
    "q_dedup_verify",
    f"""
    WITH {_minhash_pairs_ctes("documents")},
    vs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
           FROM nd_sh GROUP BY doc_id),
    vi AS (
      SELECT p.id_a, p.id_b, CAST(COUNT(*) AS BIGINT) AS ovl
      FROM nd_pairs p
      JOIN nd_sh a ON a.doc_id = p.id_a
      JOIN nd_sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
      GROUP BY p.id_a, p.id_b
    )
    SELECT p.id_a, p.id_b,
           CAST(COALESCE(vi.ovl, 0) AS BIGINT) AS ovl,
           CASE WHEN (COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0)
                      - COALESCE(vi.ovl, 0)) > 0
                THEN ROUND(CAST(COALESCE(vi.ovl, 0) AS DOUBLE)
                           / (COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0)
                              - COALESCE(vi.ovl, 0)), 6)
                ELSE 0.0 END AS jaccard,
           CAST(CASE WHEN (CASE WHEN (COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0)
                                      - COALESCE(vi.ovl, 0)) > 0
                                THEN ROUND(CAST(COALESCE(vi.ovl, 0) AS DOUBLE)
                                           / (COALESCE(sa.sz, 0)
                                              + COALESCE(sb.sz, 0)
                                              - COALESCE(vi.ovl, 0)), 6)
                                ELSE 0.0 END) >= 0.8
                     THEN 1 ELSE 0 END AS INT) AS verified
    FROM nd_pairs p
    LEFT JOIN vi USING (id_a, id_b)
    LEFT JOIN vs sa ON sa.doc_id = p.id_a
    LEFT JOIN vs sb ON sb.doc_id = p.id_b
    """,
)
def q_dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(docs, num_hashes=8, bands=4, shingle_n=3)
    return DD.verify_pairs(docs, pairs, threshold=0.8, shingle_n=3)


# ---------------------------------------------------------------------------
# Quality-aware canonical selection: per near-dup cluster keep the
# LONGEST member (ties → lowest id) instead of the arbitrary min-id —
# the production "keep the best duplicate" policy, realized with a
# skew-immune min-of-struct groupBy (never a per-cluster rank window).
# ---------------------------------------------------------------------------
@q(
    "q_dedup_keep_best",
    f"""
    WITH RECURSIVE {_neardup_canon_sql_from("documents")},
    kb_cl AS (SELECT id AS doc_id, MIN(node) AS cluster_id
              FROM nd_reach GROUP BY id),
    kb_scored AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars
      FROM kb_cl c JOIN documents d USING (doc_id)
    ),
    kb_mx AS (SELECT cluster_id, MAX(n_chars) AS mc
              FROM kb_scored GROUP BY cluster_id),
    kb_best AS (
      SELECT s.cluster_id, MIN(s.doc_id) AS keep_id
      FROM kb_scored s
      JOIN kb_mx ON s.cluster_id = kb_mx.cluster_id AND s.n_chars = kb_mx.mc
      GROUP BY s.cluster_id
    )
    SELECT s.doc_id, s.cluster_id, CAST(s.n_chars AS BIGINT) AS score
    FROM kb_scored s JOIN kb_best b ON s.doc_id = b.keep_id
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(docs, num_hashes=8, bands=4, shingle_n=3)
    return DD.keep_best(docs, pairs, "n_chars").select(
        "doc_id", "cluster_id", F.col("n_chars").alias("score")
    )


# ---------------------------------------------------------------------------
# Repetition statistics (gopher-style quality rules): top-unigram /
# top-bigram fractions and duplicated-bigram fraction per document. The
# Spark side computes occurrence counts as runs of the SORTED token
# array (one F.aggregate fold); the oracle counts the classic way
# (UNNEST → GROUP BY) — agreement proves the fold's state machine.
# ---------------------------------------------------------------------------
@q(
    "q_text_repetition",
    f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    base AS (
      SELECT doc_id, toks,
             list_transform(generate_series(1, GREATEST(len(toks) - 1, 0)),
                            i -> toks[i] || '␞' || toks[i+1]) AS bgs
      FROM tk
    ),
    uc AS (
      SELECT doc_id, t, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(toks) AS t FROM base) GROUP BY doc_id, t
    ),
    ustats AS (SELECT doc_id, MAX(c) AS maxu FROM uc GROUP BY doc_id),
    bc AS (
      SELECT doc_id, b, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(bgs) AS b FROM base) GROUP BY doc_id, b
    ),
    bstats AS (
      SELECT doc_id, MAX(c) AS maxb,
             SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupb
      FROM bc GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(GREATEST(len(t.toks) - 1, 0) AS BIGINT) AS n_bigrams,
           CASE WHEN len(t.toks) > 0
                THEN ROUND(CAST(u.maxu AS DOUBLE) / len(t.toks), 6) END
             AS top_unigram_frac,
           CASE WHEN len(t.toks) > 1
                THEN ROUND(CAST(b.maxb AS DOUBLE) / (len(t.toks) - 1), 6) END
             AS top_bigram_frac,
           CASE WHEN len(t.toks) > 1
                THEN ROUND(CAST(b.dupb AS DOUBLE) / (len(t.toks) - 1), 6) END
             AS dup_bigram_frac,
           CASE WHEN len(t.toks) < 20 THEN 1 ELSE
             CAST(COALESCE(CASE WHEN len(t.toks) > 1
                  THEN ROUND(CAST(b.maxb AS DOUBLE) / (len(t.toks) - 1), 6) END, 0)
                  <= 0.2
                AND COALESCE(CASE WHEN len(t.toks) > 1
                  THEN ROUND(CAST(b.dupb AS DOUBLE) / (len(t.toks) - 1), 6) END, 0)
                  <= 0.3 AS INTEGER) END AS repetition_keep
    FROM base t
    LEFT JOIN ustats u USING (doc_id)
    LEFT JOIN bstats b USING (doc_id)
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.repetition_stats(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Corpus distinct-n diversity (Li et al. 2016) per source: the
# dataset-card variety table. n-grams keep their occurrence
# multiplicity (unlike the dedup shingles, which are per-doc distinct);
# the only heavy state is COUNT(DISTINCT ngram), kept exact for the
# oracle.
# ---------------------------------------------------------------------------
def _ngram_diversity_sql(n_values: tuple[int, ...] = (1, 2, 3)) -> str:
    arms = []
    for n in n_values:
        if n == 1:
            grams = f"SELECT source AS stratum, UNNEST({SQL_TOKENS}) AS ngram FROM documents"
        else:
            grams = f"""SELECT source AS stratum,
                   array_to_string(toks[i:i + {n - 1}], '␟') AS ngram
            FROM (SELECT source, {SQL_TOKENS} AS toks,
                         UNNEST(generate_series(1, len({SQL_TOKENS}) - {n - 1}))
                           AS i
                  FROM documents)"""
        arms.append(
            f"""SELECT stratum, CAST({n} AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT ngram) AS BIGINT) AS n_distinct,
           CASE WHEN COUNT(*) > 0
                THEN ROUND(CAST(COUNT(DISTINCT ngram) AS DOUBLE) / COUNT(*), 6)
           END AS distinct_ratio
    FROM ({grams}) GROUP BY stratum"""
        )
    return "\n    UNION ALL\n    ".join(arms)


@q("q_ngram_diversity", _ngram_diversity_sql())
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.ngram_diversity(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. 2020 §2.2). The synthetic
# documents are single-line word soup, so the query first SYNTHESIZES
# deterministic multi-line "pages" from the token stream (the same move
# sec_star.py makes synthesizing SUB/NUM from TPC-H): 5-word lines;
# every (doc_id+i)%4==0 line loses its terminal '.'; every %6==0 line is
# truncated to 2 words (fails min_words); every %9==0 line gains a
# 'javascript' marker (line-drop rule); every doc_id%13==0 page gains a
# 'lorem ipsum' line and %17==0 a '{' line (document-drop rules). Both
# engines build the identical page, then apply the identical rules.
# ---------------------------------------------------------------------------
def _c4_pages(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(5.0)).cast("int")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )

    def line(i):
        w = F.slice(toks, i * 5 + 1, 5)
        w = F.when((did + i) % 6 == 0, F.slice(w, 1, 2)).otherwise(w)
        base = F.array_join(w, " ")
        base = F.when(
            (did + i) % 9 == 0, F.concat(base, F.lit(" javascript"))
        ).otherwise(base)
        return F.when((did + i) % 4 == 0, base).otherwise(
            F.concat(base, F.lit("."))
        )

    page = F.array_join(F.transform(idx, line), "\n")
    page = F.when(
        did % 13 == 0,
        F.concat(page, F.lit("\nthis page contains lorem ipsum filler text.")),
    ).otherwise(page)
    page = F.when(
        did % 17 == 0,
        F.concat(page, F.lit("\nconfig = { enabled: true } is code.")),
    ).otherwise(page)
    return docs.select("doc_id", page.alias("text"))


def _c4_pages_ctes() -> str:
    """The t0/t1/pages CTE chain replicating ``_c4_pages`` in SQL —
    shared by the q_c4_clean oracle and the q_line_dedup oracle (both
    operate on the same synthetic multi-line pages)."""

    def core(hi: int) -> str:
        return (
            f"array_to_string(list_slice(toks, i*5+1, i*5+{hi}), ' ')"
        )

    sliced = (
        f"CASE WHEN (doc_id + i) % 6 = 0 THEN {core(2)} ELSE {core(5)} END"
    )
    based = (
        f"CASE WHEN (doc_id + i) % 9 = 0 THEN {sliced} || ' javascript' "
        f"ELSE {sliced} END"
    )
    lined = (
        f"CASE WHEN (doc_id + i) % 4 = 0 THEN {based} ELSE {based} || '.' END"
    )
    return f"""t0 AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), t1 AS (
      SELECT doc_id,
             list_transform(
               CASE WHEN CAST(CEIL(len(toks)/5.0) AS INT) > 0
                    THEN generate_series(0, CAST(CEIL(len(toks)/5.0) AS INT) - 1)
                    ELSE [] END,
               i -> {lined}) AS lns
      FROM t0
    ), pages AS (
      SELECT doc_id,
             array_to_string(lns, chr(10))
             || CASE WHEN doc_id % 13 = 0
                     THEN chr(10) || 'this page contains lorem ipsum filler text.'
                     ELSE '' END
             || CASE WHEN doc_id % 17 = 0
                     THEN chr(10) || 'config = {{ enabled: true }} is code.'
                     ELSE '' END AS text
      FROM t1
    )"""


def _c4_sql() -> str:
    return f"""
    WITH {_c4_pages_ctes()}, lf AS (
      SELECT doc_id,
             list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines,
             lower(text) AS low
      FROM pages
    ), k AS (
      SELECT doc_id, lines, low,
             list_filter(lines, l ->
               regexp_matches(l, '[.!?"]$')
               AND len(list_filter(string_split_regex(l, '\\s+'), w -> w <> '')) >= 4
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM lf
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           -- DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
           CAST(CASE WHEN len(kept) >= 3
                      AND NOT contains(low, 'lorem ipsum')
                      AND NOT contains(low, '{{')
                     THEN 1 ELSE 0 END AS INT) AS c4_keep
    FROM k
    """.replace("{{", "{").replace("}}", "}")


@q("q_c4_clean", _c4_sql())
def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.c4_line_clean(_c4_pages(table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# PII scrubbing. The synthetic corpus carries no PII, so the query
# plants deterministic PII first — email on every doc, SSN on even ids,
# card every 5th, phone every doc, IP every 3rd — with the SAME concat
# expression on both engines, then scrubs. Patterns live in
# operators/textops.py PII_PATTERNS (common Java-regex/RE2 subset; the
# application ORDER is part of the contract). DuckDB counts via
# len(regexp_extract_all) — counts are per-pattern on the input text —
# and replaces with the 'g' flag to match Spark's replace-all default.
# ---------------------------------------------------------------------------
_PII_AUG_SQL = """
      text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
           || ' tel ' || lpad(CAST(100 + doc_id % 900 AS VARCHAR), 3, '0')
           || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || CASE WHEN doc_id % 2 = 0
                   THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' card 4111 1111 1111 1111' ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                   ELSE '' END
"""


def _pii_sql() -> str:
    from ..operators.textops import PII_PATTERNS

    clean = "aug"
    for _, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(aug, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return f"""
    WITH a AS (SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents),
    s AS (
      SELECT doc_id, {clean} AS clean_text,
           {counts}
      FROM a
    )
    SELECT doc_id, clean_text, n_email, n_ssn, n_card, n_phone, n_ip,
           CAST({total} AS BIGINT) AS pii_total
    FROM s
    """


def _pii_planted(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    s = did.cast("string")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), s, F.lit("@mail.example.com"),
        F.lit(" tel "),
        F.lpad((F.lit(100) + did % 900).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" ssn 123-45-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" card 4111 1111 1111 1111")).otherwise(
            F.lit("")
        ),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" ip 10."), (did % 256).cast("string"), F.lit(".0.1")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", aug.alias("text"))


@q("q_pii_scrub", _pii_sql())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.scrub_pii(_pii_planted(table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# Sliding-window chunking (context-window stage): 32-token windows, 24
# apart (8-token overlap) — sizes chosen so the ~54-token synthetic docs
# produce multiple chunks including a partial tail. Tokenization keeps
# the original case (chunking must not rewrite text); DuckDB list
# slicing toks[s : s+k-1] is 1-based inclusive and clamps at the end,
# exactly like Spark's slice(arr, s, k).
# ---------------------------------------------------------------------------
_CHUNK_T, _CHUNK_S = 32, 24
_RAW_TOKENS = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"


@q(
    "q_chunk_docs",
    f"""
    WITH tk AS (SELECT doc_id, {_RAW_TOKENS} AS toks FROM documents),
    st AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(1, len(toks), {_CHUNK_S})) AS s
      FROM tk
    )
    SELECT doc_id,
           CAST((s - 1) // {_CHUNK_S} AS BIGINT) AS chunk_id,
           array_to_string(toks[s : s + {_CHUNK_T - 1}], ' ') AS chunk_text,
           CAST(least(len(toks) - s + 1, {_CHUNK_T}) AS BIGINT) AS n_chunk_tokens
    FROM st
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.chunk_documents(
        table(spark, sf_dir, "documents"),
        chunk_tokens=_CHUNK_T,
        stride=_CHUNK_S,
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: docs sharing any 5-gram with the "eval set"
# (every 47th document) are flagged. The eval docs are corpus members,
# so they flag themselves — exactly what real decontamination does with
# leaked benchmark pages — and the planted near-duplicates in the
# documents table surface as true cross-document contamination.
# ---------------------------------------------------------------------------
_DECON_N = 5
#: Shared shingle CTEs (``tk``/``sh``) — one spelling for the
#: q_decontaminate and q_contamination_report oracles.
_DECON_CTES = f"""tk AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) >= {_DECON_N}
             THEN list_transform(generate_series(1, len(toks) - {_DECON_N} + 1),
                                 i -> array_to_string(toks[i:i+{_DECON_N - 1}], '␟'))
             ELSE [] END)) AS ngram
      FROM tk
    )"""
_DECON_SQL = f"""
    WITH {_DECON_CTES},
    ev AS (SELECT DISTINCT ngram FROM sh WHERE doc_id % 47 = 0),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_hits
      FROM sh s JOIN ev USING (ngram) GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(CASE WHEN COALESCE(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT)
             AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
"""


@q("q_decontaminate", _DECON_SQL)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return TO.decontaminate(
        docs, docs.filter(F.col("doc_id") % 47 == 0), n=_DECON_N
    )


# ---------------------------------------------------------------------------
# Contamination AUDIT report: per-doc overlap fraction + which eval
# item is responsible (most shared n-grams, ties -> lowest eval id) —
# what the GPT-3/Llama-style data appendices publish, not just the
# drop flag. Same eval set as q_decontaminate; attribution is a
# skew-immune min-of-struct groupBy, never a per-doc rank window.
# ---------------------------------------------------------------------------
@q(
    "q_contamination_report",
    f"""
    WITH {_DECON_CTES},
    evp AS (SELECT doc_id AS eval_id, ngram FROM sh
            WHERE doc_id % 47 = 0 AND doc_id < 2000),
    j AS (SELECT s.doc_id, s.ngram, e.eval_id FROM sh s JOIN evp e USING (ngram)),
    tot AS (
      SELECT doc_id, CAST(COUNT(DISTINCT ngram) AS BIGINT) AS n_hits
      FROM j GROUP BY doc_id
    ),
    pp AS (
      SELECT doc_id, eval_id, CAST(COUNT(*) AS BIGINT) AS hits
      FROM j GROUP BY doc_id, eval_id
    ),
    top AS (
      SELECT doc_id, eval_id AS top_eval_id, hits AS top_eval_hits
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY hits DESC, eval_id) AS rk
            FROM pp)
      WHERE rk = 1
    ),
    ns AS (
      SELECT doc_id,
             CAST(len(list_distinct(
               CASE WHEN len(toks) >= {_DECON_N}
                    THEN list_transform(
                      generate_series(1, len(toks) - {_DECON_N} + 1),
                      i -> array_to_string(toks[i:i+{_DECON_N - 1}], '␟'))
                    ELSE [] END)) AS BIGINT) AS n_shingles
      FROM tk
    )
    SELECT d.doc_id, ns.n_shingles,
           CAST(COALESCE(tot.n_hits, 0) AS BIGINT) AS n_hits,
           CASE WHEN ns.n_shingles > 0
                THEN ROUND(CAST(COALESCE(tot.n_hits, 0) AS DOUBLE)
                           / CAST(ns.n_shingles AS DOUBLE), 6)
                ELSE 0.0 END AS overlap_frac,
           top.top_eval_id, top.top_eval_hits
    FROM documents d
    JOIN ns USING (doc_id)
    LEFT JOIN tot USING (doc_id)
    LEFT JOIN top USING (doc_id)
    """,
)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eval ids capped < 2000: a real benchmark is FIXED-size — an eval
    # set that grows with the corpus (q_decontaminate's every-47th
    # convention) makes the audit's (doc, eval, ngram) triple table
    # grow quadratically on template-heavy corpora. Identical to the
    # uncapped set at the driver's sf0.001/sf0.01 (ids 0..499).
    docs = table(spark, sf_dir, "documents")
    ev = docs.filter((F.col("doc_id") % 47 == 0) & (F.col("doc_id") < 2000))
    return TO.contamination_report(docs, ev, n=_DECON_N)


# ---------------------------------------------------------------------------
# GPT-style sequence packing: concat-then-chunk token budgeting. The
# oracle replays the md5 shard/order assignment (STRPOS hex arithmetic,
# as for q_corpus_split), the per-shard running token offset, and the
# boundary-straddle explosion via generate_series.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 512
_PACK_SHARDS = 4
def _sql_hex4(expr: str) -> str:
    """First-4-hex-chars-to-int of any VARCHAR md5 expression — ONE
    spelling of the STRPOS hex arithmetic that cross-engine shard/id
    parity depends on; every oracle derives from this helper."""
    return " + ".join(
        f"(STRPOS('{_HEX}', SUBSTR({expr}, {i}, 1)) - 1) * {16 ** (4 - i)}"
        for i in range(1, 5)
    )


_SQL_HEX4_HSH = _sql_hex4("hsh")
def _pack_sql_from(src: str, id_col: str = "doc_id") -> str:
    """Pack-manifest SQL over any (id, text) source CTE/table —
    reused verbatim by q_pack_sequences (over ``documents``), by the
    end-to-end q_corpus_pipeline (over its cleaned/deduped survivors),
    and — with ``id_col`` — by q_training_mix (over its mixture-expanded
    (doc × copy) examples)."""
    return f"""
    WITH t AS (
      SELECT {id_col},
             MD5(CAST({id_col} AS VARCHAR) || ':pack:shard') AS hsh,
             MD5(CAST({id_col} AS VARCHAR) || ':pack:ord') AS ord,
             CAST(LEN({SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM {src}
    ), b AS (
      SELECT {id_col}, CAST(({_SQL_HEX4_HSH}) % {_PACK_SHARDS} AS INTEGER) AS shard,
             ord, n_tokens
      FROM t WHERE n_tokens > 0
    ), c AS (
      -- CAST: DuckDB's windowed SUM(BIGINT) yields HUGEINT, which
      -- generate_series below refuses
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ord, {id_col}
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS tok_end
      FROM b
    ), d AS (
      SELECT *, tok_end - n_tokens AS tok_start FROM c
    ), e AS (
      SELECT shard, {id_col}, tok_start, tok_end, n_tokens,
             UNNEST(generate_series(tok_start // {_PACK_BUDGET},
                                    (tok_end - 1) // {_PACK_BUDGET})) AS seq_id
      FROM d
    )
    SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, {id_col},
           CAST(LEAST(tok_end, (seq_id + 1) * {_PACK_BUDGET})
                - GREATEST(tok_start, seq_id * {_PACK_BUDGET}) AS BIGINT)
             AS tok_in_seq,
           n_tokens
    FROM e
"""


_PACK_SQL = _pack_sql_from("documents")


@q("q_pack_sequences", _PACK_SQL)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.pack_sequences(
        table(spark, sf_dir, "documents"),
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
    )


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline: the operators COMPOSED the way a real
# training-data build chains them — synthesize pages → C4 line cleaning
# (keep c4_keep=1, use the line-filtered text) → exact dedup on the
# CLEANED text (content changes after cleaning, so dedup must follow
# it) → NEAR-dup arm (minhash-LSH candidate pairs → connected-component
# clusters → keep one canonical doc per cluster; VERDICT r3/r4 task) →
# train split (md5 buckets) → GPT-style packing manifest. One oracle
# replays the whole chain; every stage is the same fragment its
# standalone query uses (the near-dup CTEs are the q_dedup_minhash /
# q_dedup_clusters fragments nd_-prefixed and re-sourced over the
# exact-dedup survivors), so a mismatch pinpoints the composition, not
# the stages.
# ---------------------------------------------------------------------------
_PIPE_SQL = f"""
    WITH RECURSIVE c4 AS ({_c4_sql()}),
    kept AS (
      SELECT doc_id, clean_text AS text FROM c4 WHERE c4_keep = 1
    ),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY MD5(text)
    ),
    surv AS (
      SELECT k.doc_id, k.text FROM kept k JOIN keepers USING (doc_id)
    ),
    {_neardup_canon_sql_from("surv")},
    surv2 AS (
      SELECT s.doc_id, s.text FROM surv s JOIN canon USING (doc_id)
    ),
    sh AS (
      SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS h FROM surv2
    ),
    tr AS (
      SELECT doc_id FROM sh WHERE ({_SQL_HEX_BYTE}) % 100 < 90
    ),
    final AS (
      SELECT s.doc_id, s.text FROM surv2 s JOIN tr USING (doc_id)
    )
    SELECT * FROM ({_pack_sql_from("final")}) p
"""


@q("q_corpus_pipeline", _PIPE_SQL)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the synthesis + line-cleaning chain is the expensive
    # narrow stage; a few-file corpus would run it in as few tasks
    from ..operators.dedup import _persist
    from ..session import spread

    pages = _c4_pages(spread(table(spark, sf_dir, "documents")))
    cleaned = TO.c4_line_clean(pages).filter(F.col("c4_keep") == 1)
    # persist the cleaned corpus: three consumers (dedup hash, the
    # survivor join, the pack manifest) would otherwise each recompute
    # the whole regex/array chain; registered with the dedup cache
    # registry so release_dedup_caches() frees it between batches
    kept = _persist(cleaned.select("doc_id", F.col("clean_text").alias("text")))
    # Materialize the cleaned corpus ONCE (this count is the cache
    # build the first consumer would otherwise pay inside its own job),
    # then run the two independent passes over the cache CONCURRENTLY
    # (guide §2.6, VERDICT r11 next-round #1):
    #   A — the banded minhash signature table (shingle + minhash agg),
    #   B — exact-dedup survivors (hash agg + join-back), both persisted.
    # Signatures are a pure per-row function of (id, text), so building
    # them over `kept` instead of the survivors yields the IDENTICAL
    # pair set once band rows are semi-join-restricted to survivor ids
    # (survivors keep their signatures; dropped exact-duplicates' rows
    # simply vanish). The extra signature work is bounded by the
    # exact-dup rate (~0.2% of docs at sf0.1); the two passes
    # previously ran back-to-back on the same persisted corpus.
    sc = spark.sparkContext
    sc.setJobDescription("corpus_pipeline: clean+persist corpus")
    kept.count()
    sc.setJobDescription(None)
    keepers = DD.exact_dedup(kept).select(F.col("keep_id").alias("doc_id"))
    # exact-dedup survivors feed FOUR consumers (cluster nodes,
    # keep_canonical, the split+pack tail, the band restrict) — persist
    surv = _persist(kept.join(keepers, "doc_id"))
    band = DD.minhash_band_table(kept, num_hashes=8, bands=4, shingle_n=3)

    def _force(df: DataFrame, desc: str) -> int:
        sc.setJobDescription(desc)  # thread-local: labels stay separate
        return df.count()

    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # the pool threads inherit the caller's job group and tags
    force = inheritable_thread_target(spark)(_force)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(force, band, "corpus_pipeline: minhash bands")
        fb = pool.submit(force, surv, "corpus_pipeline: exact-dedup survivors")
        fa.result()
        fb.result()
    # near-dup arm: LSH candidates -> connected components -> keep the
    # component-minimum doc (singletons kept by construction)
    band_surv = band.join(
        surv.select(F.col("doc_id").alias("id")), "id", "left_semi"
    )
    pairs = DD.minhash_lsh_pairs(surv, band_sig=band_surv)
    canon = DD.keep_canonical(surv, pairs)
    # train selection is a pure bucket predicate on doc_id (the same
    # expression assign_split derives its split column from) — filter
    # canon in place instead of joining assign_split's projection back
    # on: row-identical (canon ids are unique; the join neither added
    # nor removed rows), and the join + its duplicate canon subtree
    # disappear from the plan (guide §2.4).
    final = canon.filter(TO.split_bucket() < TO.TRAIN_BUCKETS)
    return TO.pack_sequences(
        final, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )


# ---------------------------------------------------------------------------
# Heavy hitters over the token stream: every token with share > 1/30 of
# all occurrences, found by a Misra-Gries candidate pass (29 counters per
# partition) + an exact broadcast-verify pass — the sketch-bounded shape
# for billion-distinct-item domains, with deterministic exact output
# (oracle = the plain HAVING clause; the integer comparison
# freq * 30 > n avoids any float threshold edge in both engines).
# ---------------------------------------------------------------------------
@q(
    "q_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT UNNEST({SQL_TOKENS}) AS item FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    freq AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY item
    )
    SELECT item, freq,
           ROUND(CAST(freq AS DOUBLE) / (SELECT n FROM tot), 6) AS share
    FROM freq
    WHERE freq * 30 > (SELECT n FROM tot)
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("item")
    )
    return TO.frequent_items(toks, "item", share_den=30)


# ---------------------------------------------------------------------------
# Vocabulary building: top-N tokens with corpus coverage — the seed
# statistics a BPE/unigram tokenizer trainer consumes.
# ---------------------------------------------------------------------------
@q(
    "q_vocab_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({SQL_TOKENS}) AS token FROM documents
    ),
    freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM tok GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM freq),
    top AS (
      SELECT token, freq, doc_freq FROM freq
      ORDER BY freq DESC, token LIMIT 50
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
           token, freq, doc_freq,
           ROUND(CAST(SUM(freq) OVER (ORDER BY freq DESC, token
                                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / (SELECT total FROM tot), 6) AS cum_coverage
    FROM top
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.vocab_top_terms(table(spark, sf_dir, "documents"), top_n=50)


# ---------------------------------------------------------------------------
# Per-document OOV rate for a frequency-cut vocabulary (V=16 of the
# corpus's 31 distinct tokens — a mid-vocabulary cut so the OOV
# distribution is non-trivial): the tokenizer/vocab-design metric.
# Vocabulary = q_vocab_topk's (freq DESC, token) cut; OOV tokens are
# counted by a broadcast anti-join, never a corpus-side NOT IN scan.
# ---------------------------------------------------------------------------
_OOV_V = 16


@q(
    "q_oov_rate",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({SQL_TOKENS}) AS token FROM documents
    ),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ),
    vocab AS (
      SELECT token FROM counts ORDER BY cnt DESC, token LIMIT {_OOV_V}
    ),
    ov AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_oov
      FROM tok WHERE token NOT IN (SELECT token FROM vocab)
      GROUP BY doc_id
    ),
    dl AS (
      SELECT doc_id, CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT d.doc_id, d.n_tokens,
           CAST(COALESCE(o.n_oov, 0) AS BIGINT) AS n_oov,
           CASE WHEN d.n_tokens > 0
                THEN ROUND(CAST(COALESCE(o.n_oov, 0) AS DOUBLE)
                           / CAST(d.n_tokens AS DOUBLE), 6)
                ELSE 0.0 END AS oov_frac
    FROM dl d LEFT JOIN ov o USING (doc_id)
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.oov_rate(table(spark, sf_dir, "documents"), vocab_size=_OOV_V)


# ---------------------------------------------------------------------------
# Hashed-linear classifier inference (fastText/CCNet/DCLM quality-
# classifier posture): logit = bias + sum of integer weights over hashed
# bag-of-words buckets. Weights are exact 2^-16 multiples summed in
# BIGINT, so no float-order or transcendental parity question exists —
# both engines rank/label on the identical integer sum.
# ---------------------------------------------------------------------------
_CLS_DIM = 4096
_CLS_SCALE = 1 << 16


def _sql_hex8(expr: str) -> str:
    """First 8 hex digits of an md5 VARCHAR as an exact BIGINT."""
    return " + ".join(
        f"(STRPOS('{_HEX}', SUBSTR({expr}, {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )


@q(
    "q_hashed_classifier",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({SQL_TOKENS}) AS token FROM documents
    ),
    bk AS (
      SELECT doc_id, ({_sql_hex8("MD5(token)")}) % {_CLS_DIM} AS bucket
      FROM tok
    ),
    wh AS (
      SELECT doc_id, MD5('w:' || CAST(bucket AS VARCHAR)) AS hw FROM bk
    ),
    wi AS (
      SELECT doc_id,
             ({_sql_hex8("hw")}) % {2 * _CLS_SCALE + 1} - {_CLS_SCALE} AS w
      FROM wh
    ),
    s AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS ls FROM wi GROUP BY doc_id),
    dl AS (
      SELECT doc_id, CAST(COALESCE(len({SQL_TOKENS}), 0) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT d.doc_id, d.n_tokens,
           ROUND(CAST(COALESCE(s.ls, 0) AS DOUBLE) / {float(_CLS_SCALE)}, 6)
             AS logit,
           CAST(CASE WHEN COALESCE(s.ls, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS label
    FROM dl d LEFT JOIN s USING (doc_id)
    """,
)
def q_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.hashed_linear_score(
        table(spark, sf_dir, "documents"), dim=_CLS_DIM
    )


# ---------------------------------------------------------------------------
# Per-document TF-IDF top terms (scikit-learn smoothing:
# tf * (ln((N+1)/(df+1)) + 1)) — keyword extraction / quality signal.
# ---------------------------------------------------------------------------
@q(
    "q_tfidf",
    f"""
    WITH tf AS (
      SELECT doc_id, token AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, UNNEST({SQL_TOKENS}) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
             ROUND(CAST(tf.tf AS DOUBLE)
                   * (LN((n.n_docs + 1.0) / (CAST(df.doc_freq AS DOUBLE) + 1.0))
                      + 1.0), 6) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, doc_freq, score, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.tfidf_top_terms(table(spark, sf_dir, "documents"), k=3)


# ---------------------------------------------------------------------------
# Data-mixture resampling: per-source target weights realized with
# repetition (floor(w) copies + one Bernoulli(frac(w)) copy decided by
# the deterministic id-hash uniform) — domain mixing for a training run.
# ---------------------------------------------------------------------------
_MIX_WEIGHTS = {
    "src0": 2.5,   # upsample
    "src1": 1.0,   # keep
    "src2": 0.3,   # downsample
    "src3": 3.0,   # pure upsample, no fractional part
    # every other source drops (weight 0)
}
_SQL_MIX_BASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {int(w)}" for s, w in sorted(_MIX_WEIGHTS.items()))
    + " ELSE 0 END"
)
_SQL_MIX_THR = (
    "CASE source "
    + " ".join(
        f"WHEN '{s}' THEN {int(round((w - int(w)) * 1_000_000))}"
        for s, w in sorted(_MIX_WEIGHTS.items())
    )
    + " ELSE -1 END"
)


@q(
    "q_data_mixture",
    f"""
    WITH hashed AS (
      SELECT doc_id, source,
             MD5(CAST(doc_id AS VARCHAR) || ':' || 'mix') AS h
      FROM documents
    ),
    n AS (
      SELECT doc_id, source,
             ({_SQL_MIX_BASE})
             + (CASE WHEN ({{hex8}}) % 1000000 < ({_SQL_MIX_THR})
                     THEN 1 ELSE 0 END) AS n
      FROM hashed
    )
    SELECT doc_id, source,
           CAST(UNNEST(generate_series(1, n)) AS BIGINT) AS copy
    FROM n WHERE n >= 1
    """.replace("{hex8}", _SQL_HEX8),
)
def q_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.mixture_resample(
        table(spark, sf_dir, "documents"), "source", _MIX_WEIGHTS
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture (mT5/XLM-R p^alpha family): per-language
# repetition weights DERIVED from the corpus histogram, w = sqrt(n_max/n)
# at alpha=0.5 — SQRT is correctly rounded by IEEE-754 spec (unlike
# EXP/POWER), so the derivation is bit-identical across engines before
# the 6-dp round. The resample machinery is q_data_mixture's, with the
# weight table joined instead of literal.
# ---------------------------------------------------------------------------
@q(
    "q_temperature_mix",
    f"""
    WITH hist AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    mx AS (SELECT MAX(n) AS nmax FROM hist),
    wt AS (
      SELECT lang,
             ROUND(SQRT(CAST(mx.nmax AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS w
      FROM hist CROSS JOIN mx
    ),
    thr AS (
      SELECT lang, w,
             CAST(FLOOR(w) AS BIGINT) AS whole,
             CAST(ROUND((w - FLOOR(w)) * 1000000, 0) AS BIGINT) AS frac
      FROM wt
    ),
    hashed AS (
      SELECT doc_id, lang, MD5(CAST(doc_id AS VARCHAR) || ':' || 'mix') AS h
      FROM documents
    ),
    nrows AS (
      SELECT doc_id, hashed.lang, t.w,
             t.whole + (CASE WHEN ({_SQL_HEX8}) % 1000000 < t.frac
                             THEN 1 ELSE 0 END) AS n
      FROM hashed JOIN thr t USING (lang)
    )
    SELECT doc_id, lang, w, CAST(UNNEST(generate_series(1, n)) AS BIGINT) AS copy
    FROM nrows WHERE n >= 1
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.temperature_mixture(
        table(spark, sf_dir, "documents"), "lang", alpha=0.5
    )


# ---------------------------------------------------------------------------
# LM quality filter: per-doc mean unigram log-probability under the
# corpus's own unigram distribution (the self-contained analogue of
# CCNet's KenLM document scoring).
# ---------------------------------------------------------------------------
def _unigram_lp_ctes() -> str:
    """The unigram-LM CTE chain ending in ``ulp(doc_id, n_tokens,
    avg_logprob)`` — one spelling shared by the q_unigram_logprob
    oracle and q_budget_select's scoring stage."""
    return f"""tok AS (
      SELECT doc_id, UNNEST({SQL_TOKENS}) AS token FROM documents
    ),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts),
    ulp AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(AVG(LN(CAST(cnt AS DOUBLE) / (SELECT total FROM tot))), 6)
               AS avg_logprob
      FROM tok JOIN counts USING (token)
      GROUP BY doc_id
    )"""


@q(
    "q_unigram_logprob",
    f"""
    WITH {_unigram_lp_ctes()}
    SELECT doc_id, n_tokens, avg_logprob FROM ulp
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.unigram_logprob(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Token-budget corpus selection: keep the most corpus-typical docs (by
# unigram LM score) until 12k tokens are filled — the "assemble the
# best N-token subset" step, computed on the bounded quantized-score
# histogram (score-descending cum sum + broadcast-back), never a
# global rank-and-running-sum over the corpus.
# ---------------------------------------------------------------------------
_BUDGET_TOKENS = 12_000


@q(
    "q_budget_select",
    f"""
    WITH {_unigram_lp_ctes()},
    bs AS (
      SELECT doc_id, n_tokens, ROUND(avg_logprob, 3) AS q_score FROM ulp
    ),
    bh AS (
      SELECT q_score, CAST(SUM(n_tokens) AS BIGINT) AS bt
      FROM bs GROUP BY q_score
    ),
    bc AS (
      SELECT q_score, bt,
             SUM(bt) OVER (ORDER BY q_score DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM bh
    ),
    sel AS (SELECT q_score FROM bc WHERE cum - bt < {_BUDGET_TOKENS})
    SELECT doc_id, n_tokens, q_score FROM bs JOIN sel USING (q_score)
    """,
)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    ulp = TO.unigram_logprob(table(spark, sf_dir, "documents"))
    return TO.budget_select(
        ulp, _BUDGET_TOKENS, score_col="avg_logprob"
    )


# ---------------------------------------------------------------------------
# Gopher-style composite quality filter: per-doc signals + one 0/1 flag
# per rule + the overall keep/drop decision (Rae et al. 2021 §A1.1
# analogue over the synthetic corpus's attainable signal range).
# ---------------------------------------------------------------------------
@q(
    "q_quality_filter",
    f"""
    WITH s AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    sig AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             ROUND(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                   / len(toks), 6) AS mean_token_len,
             ROUND(CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                        AS DOUBLE) / len(toks), 6) AS alpha_ratio,
             CAST(len(list_filter(toks, t -> t IN ('a', 'the'))) AS BIGINT)
               AS n_stopwords,
             ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
               AS distinct_ratio
      FROM s
    ),
    flags AS (
      SELECT *,
             CAST(CASE WHEN n_tokens < 40 OR n_tokens > 70
                       THEN 1 ELSE 0 END AS BIGINT) AS fail_length,
             CAST(CASE WHEN mean_token_len < 4.3 OR mean_token_len > 4.7
                       THEN 1 ELSE 0 END AS BIGINT) AS fail_mean_len,
             CAST(CASE WHEN alpha_ratio < 0.8
                       THEN 1 ELSE 0 END AS BIGINT) AS fail_alpha,
             CAST(CASE WHEN n_stopwords < 2
                       THEN 1 ELSE 0 END AS BIGINT) AS fail_stopwords,
             CAST(CASE WHEN distinct_ratio < 0.35
                       THEN 1 ELSE 0 END AS BIGINT) AS fail_diversity
      FROM sig
    )
    SELECT doc_id, n_tokens, mean_token_len, alpha_ratio, n_stopwords,
           distinct_ratio, fail_length, fail_mean_len, fail_alpha,
           fail_stopwords, fail_diversity,
           CAST(CASE WHEN fail_length = 0 AND fail_mean_len = 0
                      AND fail_alpha = 0 AND fail_stopwords = 0
                      AND fail_diversity = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS passes
    FROM flags
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.quality_filter(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# BM25 top-k retrieval (Lucene idf form) for a literal query batch —
# the lexical-retrieval arm of a RAG stack. Float discipline: every
# per-term op is written in the same left-associated order on both
# engines; the per-(query, doc) SUM rounds to 6 dp before ranking.
# ---------------------------------------------------------------------------
_BM25_QUERIES = [
    (1, "hash join table"),
    (2, "sort merge join"),
    (3, "group agg window query"),
]
_SQL_BM25_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)


def _bm25_ctes(k: int) -> str:
    """The BM25 retrieval CTE chain ending in ``bm(query_id, doc_id,
    n_terms, score, rank)`` with rank <= ``k`` — one spelling shared by
    the q_bm25 oracle and q_hybrid_rrf's lexical arm (the minhash
    shared-CTE discipline)."""
    return f"""qtab(query_id, qtext) AS (VALUES {_SQL_BM25_VALUES}),
    qterms AS (
      SELECT CAST(query_id AS BIGINT) AS query_id,
             UNNEST(list_distinct(list_filter(
               string_split_regex(lower(qtext), '\\s+'), t -> t <> ''))) AS term
      FROM qtab
    ),
    dl AS (SELECT doc_id, CAST(len({SQL_TOKENS}) AS BIGINT) AS dl FROM documents),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tok AS (SELECT doc_id, UNNEST({SQL_TOKENS}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
      WHERE term IN (SELECT DISTINCT term FROM qterms)
      GROUP BY doc_id, term
    ),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    bm_scored AS (
      SELECT qt.query_id, tf.doc_id,
             LN(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
               * (CAST(tf.tf AS DOUBLE) * 2.2)
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / s.avgdl)) AS ts
      FROM tf
      JOIN qterms qt USING (term)
      JOIN dft USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ),
    bm_agg AS (
      SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             ROUND(SUM(ts), 6) AS score
      FROM bm_scored GROUP BY query_id, doc_id
    ),
    bm AS (
      SELECT query_id, doc_id, n_terms, score, CAST(rk AS BIGINT) AS rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, doc_id) AS rk
            FROM bm_agg)
      WHERE rk <= {k}
    )"""


@q(
    "q_bm25",
    f"""
    WITH {_bm25_ctes(10)}
    SELECT query_id, doc_id, n_terms, score, rank FROM bm
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.bm25_topk(table(spark, sf_dir, "documents"), _BM25_QUERIES, k=10)


# ---------------------------------------------------------------------------
# Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
# the BM25 lexical arm fused with the dense cosine arm (embedding row
# vec_id == query_id is that query's vector) on ranks alone —
# 1/(60+rank) per contributing arm, the Elasticsearch hybrid default.
# ---------------------------------------------------------------------------
_RRF_QIDS = ", ".join(str(i) for i, _ in _BM25_QUERIES)


@q(
    "q_hybrid_rrf",
    f"""
    WITH {_bm25_ctes(20)},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dn AS (
      SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank
      FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY ROUND(LIST_COSINE_SIMILARITY(q.v, c.v), 3) DESC,
                              c.vec_id) AS rk
            FROM e q JOIN e c ON q.vec_id <> c.vec_id
            WHERE q.vec_id IN ({_RRF_QIDS}))
      WHERE rk <= 20
    ),
    fused AS (
      SELECT COALESCE(b.query_id, d.query_id) AS query_id,
             COALESCE(b.doc_id, d.neighbor_id) AS doc_id,
             b.rank AS lex_rank, d.rank AS dense_rank
      FROM bm b FULL OUTER JOIN dn d
        ON b.query_id = d.query_id AND b.doc_id = d.neighbor_id
    ),
    rrf_scored AS (
      SELECT query_id, doc_id, lex_rank, dense_rank,
             ROUND(COALESCE(1.0 / (60 + lex_rank), 0.0)
                   + COALESCE(1.0 / (60 + dense_rank), 0.0), 6) AS rrf
      FROM fused
    )
    SELECT query_id, doc_id, lex_rank, dense_rank, rrf,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id) AS rk
          FROM rrf_scored)
    WHERE rk <= 10
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.hybrid_rrf_topk(
        table(spark, sf_dir, "documents"),
        table(spark, sf_dir, "embeddings"),
        _BM25_QUERIES,
        k=10,
        arm_k=20,
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023): hashed-token
# log-likelihood ratio of a trusted target subset vs the raw corpus,
# top-k selection. Target = the en/src0 slice (the "curated domain").
# ---------------------------------------------------------------------------
@q(
    "q_dsir_select",
    f"""
    WITH tokb AS (
      SELECT doc_id, CAST(({_SQL_HEX8}) % 256 AS BIGINT) AS bucket
      FROM (SELECT doc_id, MD5(token) AS h
            FROM (SELECT doc_id, UNNEST({SQL_TOKENS}) AS token FROM documents))
    ),
    tgtb AS (
      SELECT CAST(({_SQL_HEX8}) % 256 AS BIGINT) AS bucket
      FROM (SELECT MD5(token) AS h
            FROM (SELECT UNNEST({SQL_TOKENS}) AS token FROM documents
                  WHERE lang = 'en' AND source = 'src0'))
    ),
    raw AS (SELECT bucket, COUNT(*) AS rc FROM tokb GROUP BY bucket),
    rt AS (SELECT CAST(SUM(rc) AS DOUBLE) AS rn FROM raw),
    tgt AS (SELECT bucket, COUNT(*) AS tc FROM tgtb GROUP BY bucket),
    tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tn FROM tgtb),
    ratio AS (
      SELECT r.bucket,
             LN((CAST(COALESCE(t.tc, 0) AS DOUBLE) + 1.0) / (tt.tn + 256.0))
             - LN((CAST(r.rc AS DOUBLE) + 1.0) / (rt.rn + 256.0)) AS lr
      FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN rt CROSS JOIN tt
    ),
    scored AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(SUM(lr), 6) AS logratio
      FROM tokb JOIN ratio USING (bucket) GROUP BY doc_id
    ),
    top AS (SELECT * FROM scored ORDER BY logratio DESC, doc_id LIMIT 100)
    SELECT doc_id, n_tokens, logratio,
           CAST(ROW_NUMBER() OVER (ORDER BY logratio DESC, doc_id) AS BIGINT)
             AS rank
    FROM top
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    target = docs.filter((F.col("lang") == "en") & (F.col("source") == "src0"))
    return TO.dsir_importance(docs, target)


# ---------------------------------------------------------------------------
# Deterministic global shuffle: pseudo-random md5 order, sharded so no
# global sort exists anywhere in the plan (training-order epoch
# permutation; new salt = new permutation).
# ---------------------------------------------------------------------------
@q(
    "q_global_shuffle",
    f"""
    WITH hashed AS (
      SELECT doc_id, MD5(CAST(doc_id AS VARCHAR) || ':' || 'shuffle') AS h
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, h, CAST(({_SQL_HEX_BYTE}) % 32 AS BIGINT) AS shard
      FROM hashed
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
                AS BIGINT) AS pos
    FROM sharded
    """,
)
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.global_shuffle(table(spark, sf_dir, "documents"), n_shards=32)


# ---------------------------------------------------------------------------
# Per-source corpus report card: volume / token budget / language
# spread / quality pass rate / exact-dup rate in one groupBy. The
# oracle nests the q_quality_filter oracle for the pass decision.
# ---------------------------------------------------------------------------
def _corpus_stats_sql() -> str:
    qf = ORACLES["q_quality_filter"]
    return f"""
    WITH qf AS (SELECT doc_id, passes FROM ({qf})),
    base AS (
      SELECT doc_id, source, lang, MD5(text) AS h,
             CAST(len({SQL_TOKENS}) AS BIGINT) AS n_toks
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_toks), 6) AS mean_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           ROUND(AVG(passes), 6) AS pass_rate,
           ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
             AS dup_rate
    FROM base JOIN qf USING (doc_id)
    GROUP BY source
    """


@q("q_corpus_stats", _corpus_stats_sql())
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.corpus_stats(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Repeated-substring detection (Lee et al. 2022): corpus-wide duplicated
# k-token shingles + per-doc duplicated-span coverage via the sorted-
# interval union identity sum(min(k, next_start - start)).
# ---------------------------------------------------------------------------
@q(
    "q_dedup_substrings",
    f"""
    WITH base AS (
      SELECT doc_id, {SQL_TOKENS} AS toks,
             CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id, start,
             MD5(array_to_string(toks[start:start+7], ' ')) AS g
      FROM (SELECT doc_id, toks,
                   UNNEST(generate_series(1, CAST(n_tokens AS INTEGER) - 7))
                     AS start
            FROM base WHERE n_tokens >= 8)
    ),
    dup AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) > 1),
    dstarts AS (SELECT doc_id, start FROM sh JOIN dup USING (g)),
    spans AS (
      SELECT doc_id,
             CASE WHEN nxt IS NULL THEN 8
                  ELSE LEAST(8, nxt - start) END AS cov
      FROM (SELECT doc_id, start,
                   LEAD(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
            FROM dstarts)
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_starts,
             CAST(SUM(cov) AS BIGINT) AS covered_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           COALESCE(a.n_dup_starts, 0) AS n_dup_starts,
           COALESCE(a.covered_tokens, 0) AS covered_tokens,
           CASE WHEN b.n_tokens = 0 THEN 0.0
                ELSE ROUND(CAST(COALESCE(a.covered_tokens, 0) AS DOUBLE)
                           / CAST(b.n_tokens AS DOUBLE), 6)
           END AS covered_frac
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.duplicated_ngram_spans(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# End-to-end training-batch assembly: mixture resampling (per-source
# weights with repetition) -> (doc x copy) example identities -> GPT-
# style sequence packing. One chained oracle replays the whole thing:
# the mixture oracle body feeds the generalized pack SQL via ex_id.
# Each copy gets its own md5 shard/order, so repeated documents spread
# across the token stream instead of clumping — exactly why
# mixture_resample emits a copy index.
# ---------------------------------------------------------------------------
def _training_mix_sql() -> str:
    mixture = ORACLES["q_data_mixture"]
    pack = _pack_sql_from("ex", "ex_id")
    return f"""
    WITH mixed AS (SELECT * FROM ({mixture})),
    ex AS (
      SELECT CAST(m.doc_id AS VARCHAR) || '#' || CAST(m.copy AS VARCHAR)
               AS ex_id,
             d.text
      FROM mixed m JOIN documents d USING (doc_id)
    )
    SELECT * FROM ({pack})
    """


@q("q_training_mix", _training_mix_sql())
def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    mix = TO.mixture_resample(docs, "source", _MIX_WEIGHTS)
    ex = mix.join(docs.select("doc_id", "text"), "doc_id").select(
        F.concat_ws("#", F.col("doc_id"), F.col("copy")).alias("ex_id"),
        "text",
    )
    return TO.pack_sequences(
        ex, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS, id_col="ex_id"
    )


# ---------------------------------------------------------------------------
# C4-style corpus-wide line dedup: every distinct line survives only at
# its first (doc, idx) occurrence; pages reassembled from survivors.
# Runs over the same synthetic multi-line pages as q_c4_clean.
# ---------------------------------------------------------------------------
@q(
    "q_line_dedup",
    f"""
    WITH {_c4_pages_ctes()},
    lines AS (
      SELECT doc_id, i - 1 AS idx, ls[i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
                   UNNEST(generate_series(1, len(string_split(text, chr(10)))))
                     AS i
            FROM pages)
    ),
    kept AS (
      SELECT doc_id, idx, line FROM (
        SELECT doc_id, idx, line,
               ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
        FROM lines) WHERE rn = 1
    ),
    totals AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lines
      GROUP BY doc_id
    ),
    rebuilt AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_lines, COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.text, '') AS text
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.line_dedup(_c4_pages(table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# Interpolated bigram LM quality scoring: the n-gram upgrade of
# q_unigram_logprob (lam*bigram MLE + (1-lam)*unigram MLE, LN'd and
# averaged per doc).
# ---------------------------------------------------------------------------
def _bigram_lp_ctes() -> str:
    """The interpolated-bigram-LM CTE chain ending in ``blp(doc_id,
    n_bigrams, avg_logprob)`` — one spelling shared by the
    q_bigram_logprob oracle and q_perplexity_buckets' scoring stage."""
    return f"""s AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    pos AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks,
                   UNNEST(generate_series(1, len(toks) - 1)) AS i
            FROM s WHERE len(toks) >= 2)
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS cb FROM pos GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(cb) AS cc FROM bc GROUP BY w1),
    uni AS (
      SELECT token AS tok, COUNT(*) AS cu
      FROM (SELECT UNNEST({SQL_TOKENS}) AS token FROM documents)
      GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS total FROM uni),
    blp AS (
      SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             ROUND(AVG(LN(
               0.7 * (CAST(bc.cb AS DOUBLE) / CAST(ctx.cc AS DOUBLE))
               -- (1.0 - 0.7) folds to the same IEEE double Python's
               -- 1.0 - lam produces (0.30000000000000004), NOT 0.3 —
               -- keeps the interpolation bit-identical across engines
               + (1.0 - 0.7) * (CAST(uni.cu AS DOUBLE) / tot.total)
             )), 6) AS avg_logprob
      FROM pos p
      JOIN bc USING (w1, w2)
      JOIN ctx USING (w1)
      JOIN uni ON p.w2 = uni.tok
      CROSS JOIN tot
      GROUP BY p.doc_id
    )"""


@q(
    "q_bigram_logprob",
    f"""
    WITH {_bigram_lp_ctes()}
    SELECT doc_id, n_bigrams, avg_logprob FROM blp
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.bigram_logprob(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Interpolated KNESER-NEY bigram scoring (discount 0.75) — the actual
# smoothing family behind CCNet's KenLM filter: absolute discounting
# plus the continuation-probability backoff (how many distinct contexts
# a word follows, not how often it occurs). Self-scored on the corpus,
# so c(w1 w2) >= 1 > D and the max(.,0) clamp never binds; the
# division/multiplication chain is spelled in the identical
# left-associated order in both engines.
# ---------------------------------------------------------------------------
@q(
    "q_kn_logprob",
    f"""
    WITH s AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    pos AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks,
                   UNNEST(generate_series(1, len(toks) - 1)) AS i
            FROM s WHERE len(toks) >= 2)
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS cb FROM pos GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(cb) AS cc, COUNT(*) AS n1f FROM bc GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS n1b FROM bc GROUP BY w2),
    ty AS (SELECT CAST(COUNT(*) AS DOUBLE) AS types FROM bc)
    SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LN(
             (CAST(bc.cb AS DOUBLE) - 0.75) / CAST(ctx.cc AS DOUBLE)
             + 0.75 * CAST(ctx.n1f AS DOUBLE) / CAST(ctx.cc AS DOUBLE)
               * (CAST(cont.n1b AS DOUBLE) / ty.types)
           )), 6) AS avg_logprob
    FROM pos p
    JOIN bc USING (w1, w2)
    JOIN ctx USING (w1)
    JOIN cont USING (w2)
    CROSS JOIN ty
    GROUP BY p.doc_id
    """,
)
def q_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.kneser_ney_logprob(table(spark, sf_dir, "documents"), discount=0.75)


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020): equal-
# population quality tiers by ascending bigram-LM mean NLL, computed
# on the bounded quantized-score histogram (never a corpus NTILE sort).
# ---------------------------------------------------------------------------
@q(
    "q_perplexity_buckets",
    f"""
    WITH {_bigram_lp_ctes()},
    sc AS (
      SELECT doc_id, n_bigrams,
             ROUND(0.0 - avg_logprob, 6) AS avg_nll,
             ROUND(0.0 - avg_logprob, 3) AS q_nll
      FROM blp
    ),
    ptot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM sc),
    hist AS (SELECT q_nll, CAST(COUNT(*) AS BIGINT) AS cnt FROM sc GROUP BY q_nll),
    cum AS (
      SELECT q_nll,
             SUM(cnt) OVER (ORDER BY q_nll
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM hist
    ),
    bk AS (
      SELECT q_nll, CAST((cum * 3 + n_total - 1) // n_total AS BIGINT) AS bucket
      FROM cum CROSS JOIN ptot
    )
    SELECT sc.doc_id, sc.n_bigrams, sc.avg_nll, sc.q_nll, bk.bucket,
           CASE WHEN bk.bucket = 1 THEN 'head'
                WHEN bk.bucket = 3 THEN 'tail'
                ELSE 'middle' END AS label
    FROM sc JOIN bk USING (q_nll)
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.perplexity_buckets(table(spark, sf_dir, "documents"), n_buckets=3)


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (Sennrich et al. 2016). The merge
# schedule is fully deterministic (exact integer counts, count-then-
# lexicographic tie-break, plain left-to-right substring replace), so
# the oracle UNROLLS the rounds as CTEs — the q_ann_ivf discipline
# applied to tokenizer training. chr(31) is the symbol delimiter
# (textops._BPE_SEP).
# ---------------------------------------------------------------------------
def _bpe_ctes(n_merges: int = 10) -> list[str]:
    """The unrolled BPE training CTE chain (wf/w0, then p{r}/m{r}/w{r}
    per round) — shared by the q_bpe_train and q_bpe_encode oracles."""
    sep = "chr(31)"
    ctes = [
        f"""wf AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT UNNEST({SQL_TOKENS}) AS w FROM documents) GROUP BY w
    )""",
        f"""w0 AS (
      SELECT array_to_string(list_transform(string_split(w, ''),
                                            c -> {sep} || c || {sep}), '') AS s,
             cnt
      FROM wf
    )""",
    ]
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        ctes.append(
            f"""p{r} AS (
      SELECT syms[i] AS s1, syms[i + 1] AS s2, SUM(cnt) AS c FROM (
        SELECT syms, cnt, UNNEST(generate_series(1, len(syms) - 1)) AS i FROM (
          SELECT string_split(s[2:len(s) - 1], {sep} || {sep}) AS syms, cnt
          FROM {prev}))
      GROUP BY s1, s2
    )"""
        )
        ctes.append(
            f"""m{r} AS (SELECT s1, s2, c FROM p{r}
                         ORDER BY c DESC, s1, s2 LIMIT 1)"""
        )
        # LEFT JOIN ON TRUE + CASE: when the vocabulary exhausts pairs
        # before n_merges rounds, m{r} is EMPTY — a plain cross join
        # would empty w{r} and every later CTE (0 rows out), while
        # Spark's bpe_train simply stops early and keeps all words
        # (ADVICE r6). With the guard, an empty m{r} passes the
        # previous round through unchanged.
        ctes.append(
            f"""w{r} AS (
      SELECT CASE WHEN m.s1 IS NULL THEN s
                  ELSE replace(s, {sep} || m.s1 || {sep} || {sep} || m.s2 || {sep},
                               {sep} || m.s1 || m.s2 || {sep}) END AS s, cnt
      FROM {prev} LEFT JOIN m{r} m ON TRUE
    )"""
        )
    return ctes


def _materialize(ctes: list[str]) -> list[str]:
    """Mark every CTE ``AS MATERIALIZED``: DuckDB inlines plain CTEs at
    each reference, so the sequential BPE chains (w0..wN, m1..mN,
    d0..dN — each referencing its predecessor, several referenced more
    than once) re-execute their whole prefix per reference and turn a
    sub-second chain into ~25 s of quadratic replay (measured: d10
    COUNT(*) 28.2 s inlined vs 0.41 s materialized at sf0.01).
    Materialization also shrinks the expression-executor footprint
    (the vm.max_map_count dimension of NOTES_r7 §1)."""
    import re as _re

    return [
        _re.sub(r"^(\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", c.strip(), count=1)
        for c in ctes
    ]


def _bpe_sql(n_merges: int = 10) -> str:
    ctes = _materialize(_bpe_ctes(n_merges))
    body = ",\n    ".join(c.strip() for c in ctes)
    union = "\n    UNION ALL ".join(
        f"SELECT {r} AS step, s1 AS lhs, s2 AS rhs, s1 || s2 AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""
    WITH {body}
    SELECT CAST(step AS BIGINT) AS step, lhs, rhs, merged, pair_count
    FROM ({union})
    """


@q("q_bpe_train", _bpe_sql(10))
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TO.bpe_train(table(spark, sf_dir, "documents"), n_merges=10)


# ---------------------------------------------------------------------------
# BPE encoding: apply the learned merge table to the corpus and report
# per-doc BPE token budgets (the encoder side of q_bpe_train). The
# oracle reuses the unrolled training CTEs, then applies m1..mN
# sequentially to the delimited word arrays.
# ---------------------------------------------------------------------------
def _bpe_doc_ctes(n_merges: int = 10, doc_filter: str | None = None) -> list[str]:
    """The per-document merge-application CTE chain (d0..d{n}) on top of
    ``_bpe_ctes`` — shared by the q_bpe_encode and q_bpe_encode_ids
    oracles. d{n_merges} holds (doc_id, ws) with each word as its
    SEP-delimited symbol string after all learned merges.

    ``doc_filter`` restricts WHICH documents get encoded (the train
    chain always sees the whole corpus) — the q_bpe_encode_ids_sampled
    arm uses it to bound the oracle's per-symbol explode at sf10."""
    sep = "chr(31)"
    where = f"\n      WHERE {doc_filter}" if doc_filter else ""
    ctes = _bpe_ctes(n_merges)
    ctes.append(
        f"""d0 AS (
      SELECT doc_id,
             list_transform({SQL_TOKENS},
               w -> array_to_string(list_transform(string_split(w, ''),
                                    c -> {sep} || c || {sep}), '')) AS ws
      FROM documents{where}
    )"""
    )
    for r in range(1, n_merges + 1):
        # same empty-m{r} guard as w{r} in _bpe_ctes — and for the
        # list column it must be a CASE, not COALESCE: replace(w, NULL)
        # NULLs each ELEMENT, leaving a non-NULL list of NULLs that
        # COALESCE would happily keep (ADVICE r6).
        ctes.append(
            f"""d{r} AS (
      SELECT doc_id,
             CASE WHEN m.s1 IS NULL THEN ws
                  ELSE list_transform(ws, w -> replace(w,
                    {sep} || m.s1 || {sep} || {sep} || m.s2 || {sep},
                    {sep} || m.s1 || m.s2 || {sep})) END AS ws
      FROM d{r - 1} LEFT JOIN m{r} m ON TRUE
    )"""
        )
    return ctes


def _bpe_encode_sql(n_merges: int = 10) -> str:
    sep = "chr(31)"
    ctes = _materialize(_bpe_doc_ctes(n_merges))
    body = ",\n    ".join(c.strip() for c in ctes)
    return f"""
    WITH {body}
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(ws,
                w -> length(replace(w, {sep}, '')))) AS BIGINT) AS n_chars,
           CAST(list_sum(list_transform(ws,
                w -> (length(w) - length(replace(w, {sep}, ''))) // 2))
             AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(list_sum(list_transform(ws,
                     w -> length(replace(w, {sep}, '')))) AS DOUBLE)
                 / CAST(list_sum(list_transform(ws,
                     w -> (length(w) - length(replace(w, {sep}, ''))) // 2))
                   AS DOUBLE), 6) AS chars_per_token
    FROM d{n_merges}
    """


@q("q_bpe_encode", _bpe_encode_sql(10))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    merges = [
        (r.lhs, r.rhs) for r in TO.bpe_train(docs, n_merges=10).collect()
    ]
    return TO.bpe_encode_counts(docs, merges)


def _tokenizer_fertility_sql(n_merges: int = 10) -> str:
    """Per-language fertility over the learned tokenizer: the oracle
    CONTAINS the entire q_bpe_encode body (nested-WITH subquery, the
    q_ann_recall composition pattern) — train chain, doc merge chain,
    per-doc counts — then attaches lang and reduces per stratum with
    exact BIGINT sums and two rounded divisions."""
    enc = _bpe_encode_sql(n_merges)
    return f"""
    WITH enc AS (SELECT * FROM ({enc})),
    b AS (SELECT doc_id, lang FROM documents)
    SELECT b.lang AS stratum,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(enc.n_words) AS BIGINT) AS n_words,
           CAST(SUM(enc.n_bpe_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(enc.n_chars) AS BIGINT) AS n_chars,
           CASE WHEN SUM(enc.n_words) > 0
                THEN ROUND(CAST(SUM(enc.n_bpe_tokens) AS DOUBLE)
                           / CAST(SUM(enc.n_words) AS DOUBLE), 6)
           END AS fertility,
           CASE WHEN SUM(enc.n_bpe_tokens) > 0
                THEN ROUND(CAST(SUM(enc.n_chars) AS DOUBLE)
                           / CAST(SUM(enc.n_bpe_tokens) AS DOUBLE), 6)
           END AS chars_per_token
    FROM enc JOIN b USING (doc_id)
    GROUP BY b.lang
    """


@q("q_tokenizer_fertility", _tokenizer_fertility_sql(10))
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-word by language under the corpus-trained merges —
    the multilingual tokenizer-health review table."""
    docs = table(spark, sf_dir, "documents")
    merges = [
        (r.lhs, r.rhs) for r in TO.bpe_train(docs, n_merges=10).collect()
    ]
    return TO.tokenizer_fertility(docs, merges)


def _bpe_encode_ids_sql(n_merges: int = 10, doc_filter: str | None = None) -> str:
    """Oracle for the id-emitting encoder: the shared train + doc merge
    chain (all MATERIALIZED — see ``_materialize``), then a
    deterministic vocabulary (sorted corpus alphabet gets 0..B-1; merge
    symbol of round r gets B+r-1, first id winning on duplicate symbol
    strings — the MIN(id) GROUP BY) applied per symbol via an
    index-enumerated symbol JOIN; the per-doc id sequence is emitted as
    the same comma-joined string Spark produces."""
    sep = "chr(31)"
    ctes = _materialize(_bpe_doc_ctes(n_merges, doc_filter=doc_filter))
    merge_union = "\n        UNION ALL ".join(
        f"SELECT s1 || s2 AS sym, {r} AS step FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    ctes.append(
        f"""chars AS (
      SELECT DISTINCT UNNEST(string_split(w, '')) AS sym
      FROM (SELECT UNNEST({SQL_TOKENS}) AS w FROM documents))"""
    )
    ctes.append(
        """base AS (
      SELECT sym, ROW_NUMBER() OVER (ORDER BY sym) - 1 AS id FROM chars)"""
    )
    ctes.append(
        f"""vocab AS (
      SELECT sym, MIN(id) AS id FROM (
        SELECT sym, id FROM base
        UNION ALL
        SELECT sym, (SELECT COUNT(*) FROM base) + step - 1 AS id
        FROM ({merge_union}))
      GROUP BY sym)"""
    )
    # symbol -> id via an equi-JOIN on an index-enumerated symbol table,
    # NOT a per-element MAP extraction: a correlated `vm.m[s]` inside the
    # nested lambdas rematerializes the map per element and turns a 500-doc
    # lookup into ~57 s of wall; the join formulation is <1 s and
    # order-exact via (wpos, spos) ordered aggregation.
    ctes.append(
        f"""wtab AS (
      SELECT doc_id,
             UNNEST(generate_series(1, len(ws))) AS wpos,
             UNNEST(ws) AS w
      FROM d{n_merges})"""
    )
    ctes.append(
        f"""stab AS (
      SELECT doc_id, wpos,
             UNNEST(generate_series(1, len(ss))) AS spos,
             UNNEST(ss) AS s
      FROM (SELECT doc_id, wpos,
                   string_split(w[2:len(w) - 1], {sep} || {sep}) AS ss
            FROM wtab))"""
    )
    ctes.append(
        """idtab AS (
      SELECT t.doc_id, t.wpos, t.spos, CAST(COALESCE(v.id, -1) AS INT) AS id
      FROM stab t LEFT JOIN vocab v ON v.sym = t.s)"""
    )
    body = ",\n    ".join(c.strip() for c in ctes)
    return f"""
    WITH {body}
    SELECT d.doc_id,
           CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n_tokens,
           COALESCE(g.csv, '') AS ids_csv
    FROM (SELECT DISTINCT doc_id FROM d{n_merges}) d
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS cnt,
             array_to_string(list(id ORDER BY wpos, spos), ',') AS csv
      FROM idtab GROUP BY doc_id
    ) g USING (doc_id)
    """


@q("q_bpe_encode_ids", _bpe_encode_ids_sql(10))
def q_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's id-emitting output — per doc the full token-ID
    sequence under the deterministic bpe_vocab numbering (what a
    training-data writer ships; completes train → encode → pack).

    sf10 harness bound (VERDICT r8 #8): the ORACLE's per-symbol explode
    (wtab/stab — one row per symbol per word per doc) exceeds any DuckDB
    cap this box allows at sf10 (8 GB pool OOM; 20 GB dies of mmap-count
    exhaustion first, NOTES_r8 §25) while the Spark side is fine. The
    r10 sf1 abort (DuckDB pthread TLS exhaustion, rc=-6) was CLOSED in
    r11: ``SWEEP_DUCK_NO_ORDER=1`` (preserve_insertion_order=false — the
    sweep compares order-insensitively, so the explode streams instead
    of buffering in order) greens the full arm at sf1 in 121 s
    (artifacts/sweep_sf1_r11.jsonl). The sf10 bound was re-attacked with
    the same knob in r11 and stands, wedged between DuckDB's two
    limits: a 14 GB pool dies of the spurious 16 KB mmap-count OOM
    (~57k buffer-block mappings vs vm.max_map_count 65530), an 8 GB
    pool dies of a REAL 2.0 GiB allocation failure (6.6/7.4 GiB used) —
    each reproduced in isolation (artifacts/sweep_sf10_r11.jsonl, four
    rows). The full query is hash-matched at sf0.001–sf1; sf10-scale
    cross-engine coverage is carried by the SAMPLED arm below plus the
    already-sf10-green q_bpe_train (the merge table) and q_bpe_encode
    (the full-corpus d0..dN symbol strings), which together pin every
    input the id emission consumes."""
    docs = table(spark, sf_dir, "documents")
    merges = [
        (r.lhs, r.rhs) for r in TO.bpe_train(docs, n_merges=10).collect()
    ]
    return TO.bpe_encode_ids(docs, merges)


# Deterministic 1/16 document stratum for the sampled id-emission arm:
# md5 of the doc id, first hex digit '0' — the engine-portable sampling
# idiom of q_corpus_split / q_global_shuffle.
_BPE_IDS_DOC_SAMPLE = "SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'"


@q("q_bpe_encode_ids_sampled", _bpe_encode_ids_sql(10, doc_filter=_BPE_IDS_DOC_SAMPLE))
def q_bpe_encode_ids_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sf10-scale verification arm of q_bpe_encode_ids (VERDICT r8
    #8): TRAIN on the whole corpus (merges AND the vocab numbering —
    alphabet ids come from the full corpus alphabet), then emit id
    sequences for a deterministic md5 1/16 stratum of documents. The
    oracle applies the identical stratum inside d0 only, so its
    per-symbol explode is bounded while every stage the full query runs
    — train chain, vocab assembly, merge application, symbol→id join,
    (wpos, spos) ordered emission — executes at full-corpus scale on
    the Spark side and is cross-engine hash-checked on the stratum."""
    docs = table(spark, sf_dir, "documents")
    merges = [
        (r.lhs, r.rhs) for r in TO.bpe_train(docs, n_merges=10).collect()
    ]
    vocab = TO.bpe_vocab(docs, merges)
    sampled = docs.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    )
    return TO.bpe_encode_ids(sampled, merges, vocab=vocab)


# ---------------------------------------------------------------------------
# Writer-side block packing: where q_pack_sequences verifies the pack
# MANIFEST (doc x sequence token counts), q_pack_token_ids verifies the
# actual emitted training blocks — the concatenated per-block token-ID
# stream itself. Token ids derive from an md5 hex-prefix of each token
# (the engine-portable hashing idiom of q_corpus_split / q_global_shuffle)
# so both engines build the identical id stream without sharing a hash
# function; the operator composes unchanged with bpe_encode_ids output
# (same array<int> contract — pinned by test_pack_token_ids_over_bpe_ids).
# ---------------------------------------------------------------------------
_TOKID_MOD = 32000


def _pack_token_ids_sql() -> str:
    b = _PACK_BUDGET
    hex4_tok = _sql_hex4("MD5(t || ':tok')")
    tok_id = f"CAST(({hex4_tok}) % {_TOKID_MOD} AS INT)"
    return f"""
    WITH di AS (
      SELECT doc_id, list_transform({SQL_TOKENS}, t -> {tok_id}) AS ids
      FROM documents
    ), t AS (
      SELECT doc_id,
             MD5(CAST(doc_id AS VARCHAR) || ':pack:shard') AS hsh,
             MD5(CAST(doc_id AS VARCHAR) || ':pack:ord') AS ord,
             ids, CAST(LEN(ids) AS BIGINT) AS n_tokens
      FROM di
    ), b AS (
      SELECT doc_id, CAST(({_SQL_HEX4_HSH}) % {_PACK_SHARDS} AS INTEGER) AS shard,
             ord, ids, n_tokens
      FROM t WHERE n_tokens > 0
    ), c AS (
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ord, doc_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS tok_end
      FROM b
    ), d AS (
      SELECT *, tok_end - n_tokens AS tok_start FROM c
    ), e AS (
      SELECT shard, tok_start, tok_end, ids,
             UNNEST(generate_series(tok_start // {b}, (tok_end - 1) // {b}))
               AS seq_id
      FROM d
    ), f AS (
      SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, tok_start,
             ids[(GREATEST(tok_start, seq_id * {b}) - tok_start + 1):
                 (LEAST(tok_end, (seq_id + 1) * {b}) - tok_start)] AS seg
      FROM e
    )
    SELECT shard, seq_id,
           CAST(LEN(flatten(list(seg ORDER BY tok_start))) AS BIGINT) AS n_tokens,
           array_to_string(flatten(list(seg ORDER BY tok_start)), ',') AS ids_csv
    FROM f GROUP BY shard, seq_id
    """


@q("q_pack_token_ids", _pack_token_ids_sql())
def q_pack_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual training blocks a data writer ships: per (shard,
    seq_id) the concatenated ``_PACK_BUDGET``-token id stream, docs
    straddling boundaries split across neighboring blocks."""
    docs = table(spark, sf_dir, "documents")
    with_ids = docs.select(
        "doc_id",
        F.transform(
            TX.tokens(F.lower("text")),
            lambda t: (
                F.conv(
                    F.substring(F.md5(F.concat(t, F.lit(":tok"))), 1, 4), 16, 10
                ).cast("int")
                % _TOKID_MOD
            ),
        ).alias("ids"),
    )
    return TO.pack_token_ids(
        with_ids, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )


# ---------------------------------------------------------------------------
# Repeated-substring REMOVAL (the pass Lee et al. 2022 actually run;
# q_dedup_substrings scores the spans, this cuts them): corpus-wide
# duplicated k-shingles keep their first occurrence (min (doc_id, start)
# global order), every other occurrence's span is removed, survivors
# reassemble. The oracle replays first-occurrence via ROW_NUMBER (the
# skew-safe Spark min(struct) groupBy is order-equivalent), the span
# union via the same gaps-and-islands windows, and the token surgery via
# generate_series + list_filter over the merged-interval structs.
# ---------------------------------------------------------------------------
def _dedup_span_removal_sql(k: int = 8) -> str:
    km1 = k - 1
    return f"""
    WITH base AS (
      SELECT doc_id, {SQL_TOKENS} AS toks,
             CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id, start,
             MD5(array_to_string(toks[start:start+{km1}], ' ')) AS g
      FROM (SELECT doc_id, toks,
                   UNNEST(generate_series(1, CAST(n_tokens AS INTEGER) - {km1}))
                     AS start
            FROM base WHERE n_tokens >= {k})
    ),
    ranked AS (
      SELECT doc_id, start,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, start) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS cnt
      FROM sh
    ),
    cuts AS (
      SELECT doc_id, start AS s, start + {km1} AS e
      FROM ranked WHERE cnt > 1 AND rn > 1
    ),
    isl AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM cuts
    ),
    isl2 AS (
      SELECT doc_id, s, e,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    merged AS (
      SELECT doc_id, MIN(s) AS ms, MAX(e) AS me
      FROM isl2 GROUP BY doc_id, island
    ),
    docivs AS (
      SELECT doc_id, list({{'ms': ms, 'me': me}} ORDER BY ms) AS ivs
      FROM merged GROUP BY doc_id
    ),
    surg AS (
      SELECT b.doc_id, b.n_tokens,
             list_filter(
               list_transform(
                 generate_series(1, CAST(b.n_tokens AS INTEGER)),
                 i -> CASE WHEN d.ivs IS NOT NULL AND len(list_filter(
                             d.ivs, iv -> iv.ms <= i AND i <= iv.me)) > 0
                           THEN NULL ELSE b.toks[i] END),
               x -> x IS NOT NULL) AS kept
      FROM base b LEFT JOIN docivs d USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           CAST(len(kept) AS BIGINT) AS kept_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS removed_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE ROUND(CAST(n_tokens - len(kept) AS DOUBLE) / n_tokens, 6)
           END AS removed_frac,
           -- DuckDB's array_to_string([]) is NULL; Spark's array_join
           -- is '' — pin the non-NULL spelling
           COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
    FROM surg
    """


@q("q_dedup_span_removal", _dedup_span_removal_sql(8))
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal over the documents corpus — the cut
    q_dedup_substrings' coverage stats predict."""
    return DD.remove_duplicated_spans(table(spark, sf_dir, "documents"), k=8)


# ---------------------------------------------------------------------------
# MinHash-LSH candidate recall (the dedup twin of q_ann_recall): exact
# shingle-Jaccard truth pairs at 0.8 vs the production banded candidates,
# composed from the SAME shared nd_* CTEs q_dedup_minhash uses — plus a
# truth arm over nd_sh, so both arms measure the same shingle space.
# ---------------------------------------------------------------------------
def _dedup_recall_sql(threshold: float = 0.8) -> str:
    return f"""
    WITH {_minhash_pairs_ctes("documents")},
    dr_sizes AS (SELECT doc_id, COUNT(*) AS sz FROM nd_sh GROUP BY doc_id),
    dr_inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ovl
      FROM nd_sh a JOIN nd_sh b ON a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dr_truth AS (
      SELECT id_a, id_b FROM dr_inter
      JOIN dr_sizes sa ON id_a = sa.doc_id
      JOIN dr_sizes sb ON id_b = sb.doc_id
      WHERE ROUND(CAST(ovl AS DOUBLE) / CAST(sa.sz + sb.sz - ovl AS DOUBLE), 6)
            >= {threshold}
    ),
    dr_hits AS (
      SELECT t.id_a, t.id_b FROM dr_truth t JOIN nd_pairs p
      ON t.id_a = p.id_a AND t.id_b = p.id_b
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM dr_truth) AS n_truth,
             (SELECT COUNT(*) FROM nd_pairs) AS n_candidates,
             (SELECT COUNT(*) FROM dr_hits) AS n_hits
    )
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           ROUND(CASE WHEN n_truth = 0 THEN 1.0
                      ELSE CAST(n_hits AS DOUBLE) / n_truth END, 6) AS recall,
           ROUND(CASE WHEN n_candidates = 0 THEN 1.0
                      ELSE CAST(n_hits AS DOUBLE) / n_candidates END, 6)
             AS precision
    FROM m
    """


@q("q_dedup_recall", _dedup_recall_sql(0.8))
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall + precision of the banded MinHash index against
    exact shingle-Jaccard ground truth — the measurement a dedup
    deployment runs before trusting the bands.

    Largest-scale harness bound: the oracle's dr_truth arm must replay
    the ALL-PAIRS shingle self-join (ENOSPC at 47+ GB of DuckDB spill
    at the largest test scale — an oracle-harness limit, not an engine
    one); q_dedup_recall_sampled below carries the sf10 cross-engine
    signal."""
    return DD.minhash_pair_recall(table(spark, sf_dir, "documents"))


_RECALL_SAMPLED_SQL = _dedup_recall_sql(0.8).replace(
    "AS toks FROM documents",
    "AS toks FROM documents\n"
    "      WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'",
)
_RECALL_SAMPLED_SQL = require_sql_surgery(
    _RECALL_SAMPLED_SQL, _dedup_recall_sql(0.8),
    "q_dedup_recall_sampled", "SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'",
)
require_sql_surgery(
    _RECALL_SAMPLED_SQL, _dedup_recall_sql(0.8),
    "q_dedup_recall_sampled", "FROM documents",
)


@q("q_dedup_recall_sampled", _RECALL_SAMPLED_SQL)
def q_dedup_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-scale verification arm of q_dedup_recall (VERDICT r9
    #2, the sampled-arm pattern): recall + precision of the banded
    MinHash index measured over a deterministic md5 1/16 document
    stratum, which keeps the oracle's all-pairs shingle-Jaccard truth
    arm (~1/256 of the pair work) inside the box's spill budget at the
    largest scale. Both engines compute truth, candidates and hits
    within the same stratum, so every stage of the banding chain stays
    cross-engine hash-checked; the full-corpus query stays the
    contract at the scales the oracle can replay."""
    docs = table(spark, sf_dir, "documents").where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    )
    return DD.minhash_pair_recall(docs)
