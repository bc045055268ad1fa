"""Deduplication operators for large-scale training-data pipelines.

Five strategies, each a DataFrame→DataFrame function designed around
Spark's shuffle model:

- ``exact_dedup``         — hash-groupBy on a content fingerprint. One
                            shuffle on the hash; partial aggregation
                            (map-side combine) keeps it cheap at 100 TB.
- ``ngram_jaccard_pairs`` — token-postings self-join within ``lang``
                            blocks. The inverted-index join keys on the
                            *token*, so common tokens fan out: exact and
                            quadratic per block (the oracle surface).
- ``minhash_lsh_pairs``   — MinHash signatures + banded LSH. The only
                            shuffle that matters is the band-bucket
                            self-join; candidate pairs ≪ n². Hashes are
                            md5-based so results are portable/deterministic
                            (no engine-specific murmur seeds).
- ``simhash_pairs``       — ``n_bits``-wide SimHash (16, 32 or 64) from
                            per-hex-digit majority vote; near-dup =
                            Hamming distance ≤ k within ``lang`` blocks,
                            found via the exact pigeonhole band join (k+1
                            chunks; one must match) — no quadratic stage.
- ``embedding_neardup_pairs`` — cosine threshold over embedding pairs;
                            blocked by ``label`` to avoid n² (in
                            production: an IVF/LSH bucket — see
                            operators/similarity.py).

``dedup_clusters`` resolves pairs into connected components over a
corpus's ids, and ``keep_canonical`` / ``keep_best`` build those
components themselves from the corpus they filter, so a doc with no
near-duplicate is always its own cluster and always kept.

All of it is pure DataFrame composition — no UDFs — so Catalyst sees
through every stage (predicate pushdown into the parquet scan, AQE
choosing broadcast vs shuffle joins at runtime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import vector as V
from ..functions.text import DOC_ID, TEXT
from ..functions.vector import EMBEDDING, VEC_ID
from ..session import spread


#: Signature tables persisted by the operators below (documented
#: contract: the cache is not auto-released mid-plan because both sides
#: of the self-join read it). ``release_dedup_caches`` frees them.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_dedup_caches() -> int:
    """Unpersist every signature table the dedup operators persisted in
    this process; returns how many were released. Long-lived sessions
    running many dedup batches should call this between batches instead
    of the blunter ``spark.catalog.clearCache()`` (VERDICT r2 nit)."""
    n = 0
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
        n += 1
    return n


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group by content fingerprint; keep the lowest id as canonical.

    Returns (content_hash, keep_id, n_dupes). One shuffle, map-side
    combined. At 100 TB this is the cheapest possible dedup: the hash is
    computed scan-side, and only (hash, id) pairs shuffle.
    """
    return (
        docs.select(F.md5(F.col(TEXT)).alias("content_hash"), F.col(DOC_ID))
        .groupBy("content_hash")
        .agg(
            F.min(DOC_ID).alias("keep_id"),
            (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("n_dupes"),
        )
    )


def bloom_positions(h: F.Column, m_bits: int, k: int) -> F.Column:
    """``array<long>`` of the ``k`` Bloom bit positions for a content
    hash: position_i = int(md5(h || ':' || i)[:15 hex]) % m_bits. All
    md5-derived, so Spark and the SQL oracle compute identical bits
    (the portable-hashing idiom of q_corpus_split / q_pack_token_ids);
    15 hex digits < 2^60 stays exact in a BIGINT in both engines.

    F.concat, not concat_ws: a NULL content hash (NULL text) must
    propagate to NULL positions — concat_ws SKIPS nulls and would
    fabricate positions from the bare slot index, which can falsely
    hit (and silently diverge from the oracle's NULL-propagating
    ``||``)."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(h, F.lit(f":{i}"))), 1, 15),
                16,
                10,
            ).cast("long")
            % m_bits
            for i in range(k)
        ]
    )


def bloom_dedup(
    new: DataFrame,
    existing: DataFrame,
    m_bits: int = 2048,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter ingest dedup: flag each NEW document whose content
    hash is *possibly* already in the EXISTING corpus — the O(m)-memory
    recurrence complement to ``minhash_lsh_pairs_delta`` for EXACT
    dedup (the Dolma/CCNet posture: a fixed-size filter over billions
    of seen documents, rebuilt or appended per crawl).

    Returns one row per new document: (doc_id, n_hit, maybe_dup,
    exact_dup, false_positive) with BIGINT 0/1 flags — ``maybe_dup`` is
    the filter's answer (all ``k`` positions set), ``exact_dup`` the
    ground truth (hash present in existing), ``false_positive`` their
    disagreement, so the operator measures its own FP rate (the
    q_ann_recall harness posture; FP expectation is the textbook
    (1 - e^(-kn/m))^k).

    Scale shape — the whole point of a Bloom filter is that the
    membership structure is O(m_bits), independent of corpus size:

    - build: existing hashes → k positions each → DISTINCT, output
      bounded by m_bits regardless of corpus rows (one map-side-
      combinable shuffle);
    - probe: the distinct positions collect into an m_bits/64-word
      bitmap baked as a literal long array, and the per-doc check is a
      pure Column fold (element_at + getbit) — ZERO joins and zero
      shuffles over the new batch. The bitmap is m_bits/8 bytes of plan
      (256 B at the 2048 bits every query uses); a filter of billions
      of bits is still correct but plans slowly.

    n_hit counts hash functions (array slots), not distinct positions:
    a doc whose k hashes collide on one set bit still reports k hits.

    ``exact_dup`` joins the distinct existing-hash set — corpus-sized,
    the one non-O(m) piece, carried so the operator can REPORT its FP
    rate; production ingest that trusts the filter drops this join and
    keeps the O(m) probe only (documented boundary, not a default).

    The probe also runs with a STREAMING ``new`` side against a static
    ``existing`` corpus (test-pinned): the filter build runs on the
    static side at plan time, the probe is a stateless narrow fold, and
    the truth check is a stream-static join — the streaming
    ingest-dedup deployment shape.
    """
    if m_bits < 64 or k < 1:
        raise ValueError("need m_bits >= 64 and k >= 1")
    nh = new.select(
        F.col(DOC_ID).alias("id"), F.md5(F.col(TEXT)).alias("h")
    ).withColumn("pos", bloom_positions(F.col("h"), m_bits, k))
    eh = existing.select(F.md5(F.col(TEXT)).alias("h")).distinct()
    epos = (
        eh.select(F.explode(bloom_positions(F.col("h"), m_bits, k)).alias("p"))
        .distinct()
    )

    # one bounded job: <= m_bits longs back to the driver, packed
    # into an m_bits/64-word bitmap literal (the PQ-codebook /
    # centroid-literal posture)
    n_words = (m_bits + 63) // 64
    words = [0] * n_words
    for r in epos.collect():
        p = int(r.p)
        words[p >> 6] |= 1 << (p & 63)
    # two's-complement: a word with bit 63 set must bake as the
    # equivalent NEGATIVE long (getbit reads the binary pattern)
    bm = F.array(
        *[
            F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
            for w in words
        ]
    )
    hit = lambda p: F.getbit(  # noqa: E731
        F.element_at(bm, (p / 64).cast("int") + 1), (p % 64).cast("int")
    )
    counted = nh.select(
        "id",
        "h",
        # NULL positions (NULL text) count as misses, matching the
        # oracle's match-nothing LEFT JOIN
        F.aggregate(
            F.col("pos"),
            F.lit(0).cast("long"),
            lambda acc, p: acc + F.coalesce(hit(p), F.lit(0)),
        ).alias("n_hit"),
    )

    truth = eh.select(F.col("h").alias("_eh"), F.lit(1).alias("_seen"))
    out = counted.join(truth, counted.h == F.col("_eh"), "left")
    maybe = (F.col("n_hit") == k).cast("long")
    exact = F.coalesce(F.col("_seen").cast("long"), F.lit(0).cast("long"))
    return out.select(
        F.col("id").alias(DOC_ID),
        F.col("n_hit"),
        maybe.alias("maybe_dup"),
        exact.alias("exact_dup"),
        (maybe * (F.lit(1) - exact)).cast("long").alias("false_positive"),
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Jaccard similarity over distinct-token sets, via postings self-join.

    Candidate pairs are restricted to equal ``lang`` blocks — the
    standard blocking trick that turns O(n²) into O(Σ block²). Exact and
    uncapped: a token shared by every doc of a block fans out block²
    join rows (the oracle-checked mode — at corpus scale prefer
    ``minhash_lsh_pairs``).
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    No explicit broadcasts: the per-doc ``sizes`` table is corpus-sized
    (one row per document), so it shuffle-joins on the id; AQE turns
    that into a broadcast join at runtime when it actually fits.
    """
    post = spread(docs).select(
        F.col(DOC_ID).alias("id"),
        F.col("lang").alias("blk"),
        F.explode(TX.distinct_tokens(TEXT)).alias("token"),
    )
    sizes = post.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = post.alias("a")
    b = post.alias("b")
    join_keys = [F.col("a.token") == F.col("b.token"), F.col("a.blk") == F.col("b.blk")]
    inter = (
        a.join(b, join_keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def _minhash_sig(docs: DataFrame, num_hashes: int, shingle_n: int) -> DataFrame:
    """Per-doc minhash signature: column ``h{i}`` = min over shingles of
    md5(i || ':' || shingle).

    md5-as-hash-family: portable, deterministic, and uniformly
    distributed; min over the hex string is a valid minhash (order on
    [0, 16^32)). All ``num_hashes`` functions are aggregate COLUMNS of
    one groupBy — one shuffle of (id, k hashes), no seed explode (a ×k
    row-count blowup), full map-side combine.
    """
    shingled = spread(docs).select(
        F.col(DOC_ID).alias("id"),
        F.explode(TX.word_shingles(TEXT, shingle_n)).alias("shingle"),
    )
    return shingled.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))).alias(
                f"h{i}"
            )
            for i in range(num_hashes)
        ]
    )


def minhash_band_table(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The banded-signature table (id, band, sig) ``minhash_lsh_pairs``
    self-joins — exported so callers can build it ONCE and reuse it:
    the delta-dedup recurrence persists the existing corpus's bands
    across batches, and pipeline compositions can materialize it
    CONCURRENTLY with an independent pass over the same corpus (guide
    §2.6) before handing it to ``minhash_lsh_pairs(band_sig=...)``. It
    is persisted (released by ``release_dedup_caches``)."""
    return _persist(
        _band_table(docs, num_hashes, bands, shingle_n)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    band_sig: DataFrame | None = None,
) -> DataFrame:
    """Banded MinHash-LSH candidate pairs.

    The tiny band table is persisted so the self-join doesn't compute
    the signatures twice (Spark does not reuse the exchange across the
    two sides here). The cache is NOT auto-released mid-plan — callers
    running many batches should call ``release_dedup_caches()`` between
    them.

    Signature of ``num_hashes`` md5-minhashes, split into ``bands`` bands
    of ``num_hashes/bands`` rows; docs sharing any band signature are
    candidates. Returns distinct (id_a, id_b), id_a < id_b.

    ``band_sig``: a precomputed (id, band, sig) table — built by
    ``minhash_band_table`` (possibly filtered to a survivor id set) —
    to self-join INSTEAD of building signatures here; ``docs`` and the
    signature parameters are then ignored. The candidate set for a
    given signature table is identical by construction (signatures are
    a pure per-row function of (id, text)).

    Scale posture: the signature build is one shuffle; the band table is
    tiny (n_docs × bands rows of 32-char sigs) and persisted so the
    self-join doesn't recompute the signatures. The only n²-risk is docs
    sharing a band bucket — i.e. actual near-duplicates, which is the
    output itself.
    """
    if band_sig is None:
        band_sig = minhash_band_table(docs, num_hashes, bands, shingle_n)
    a = band_sig.alias("a")
    b = band_sig.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _band_table(
    docs: DataFrame, num_hashes: int, bands: int, shingle_n: int
) -> DataFrame:
    """(id, band, sig) banded-signature table — one spelling shared by
    the whole-corpus and delta candidate joins."""
    # bands > num_hashes would make every band signature md5('') for
    # every doc (concat_ws of zero columns) — the full O(n²) candidate
    # set LSH exists to avoid; a non-dividing bands silently ignores
    # the trailing hashes and shifts the b/r capture curve. Fail loud.
    if not (1 <= bands <= num_hashes) or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes with 1 <= bands <= num_hashes; "
            f"got num_hashes={num_hashes}, bands={bands}"
        )
    rows_per_band = num_hashes // bands
    sig = _minhash_sig(docs, num_hashes, shingle_n)
    # band signature: md5 of the sorted 'seed=minhash' strings — kept
    # byte-identical to the seed-exploded formulation (sorted order =
    # seed order while num_hashes ≤ 10)
    band_cols = []
    for b in range(bands):
        seeds = range(b * rows_per_band, (b + 1) * rows_per_band)
        parts = sorted(
            (f"{s}=", f"h{s}") for s in seeds
        )  # lexicographic on the seed prefix
        joined = F.concat_ws(
            "|", *[F.concat(F.lit(p), F.col(h)) for p, h in parts]
        )
        band_cols.append(F.md5(joined).alias(f"sig{b}"))
    sigs = sig.select("id", *band_cols)
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"sig{b}").alias("sig"))
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def minhash_lsh_pairs_delta(
    new_docs: DataFrame,
    existing: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Delta dedup — the production recurrence: candidate near-dup
    pairs for a NEW batch (a fresh crawl) against an EXISTING corpus,
    plus within the new batch itself, WITHOUT ever materializing
    existing×existing candidates. Equals
    ``minhash_lsh_pairs(new ∪ existing)`` minus the both-existing
    pairs — but computed so the dominant cost class never exists: the
    band join's left side is the NEW band table only, so candidate
    work is proportional to |new| × bucket occupancy, not
    |corpus|².

    Ids must be disjoint between the two inputs (a shared id would be
    silently self-pair-filtered). Returns distinct (id_a, id_b),
    id_a < id_b; each pair touches ≥ 1 new doc by construction.

    Scale: the existing side still pays one signature build per run —
    in a real recurrence persist its band table once and reuse it
    across deltas (it is append-only: new batches' bands union on).
    """
    nb, eb = (
        _persist(_band_table(d, num_hashes, bands, shingle_n))
        for d in (new_docs, existing)
    )
    allb = nb.unionByName(eb)
    a, b = nb.alias("a"), allb.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )


def simhash(docs: DataFrame, n_bits: int) -> DataFrame:
    """``n_bits``-bit SimHash per document. 16 is the oracle-parity
    width; wider signatures keep chance collisions rare on large
    corpora (``simhash_pairs``).

    Bit *i* is the majority vote, over the doc's distinct tokens, of
    the high bit of hex digit ``(i-1) % 32 + 1`` of md5 of the token —
    salted with ``'~' * ((i-1) // 32)`` once the 32 hex digits of one
    md5 are exhausted — i.e. digit in [8-f] votes +1, else -1. Portable
    across engines (pure string ops). Returns (id, simhash long); at
    n_bits=64 the top bit lands in the long's sign bit, which keeps
    XOR/bit_count/ordering consistent.

    Plan shape: the n_bits bit votes are n_bits aggregate COLUMNS of
    one groupBy over the (doc, token) rows — one explode, one map-side-
    combined shuffle of (id, n_bits ints). (The naive formulation
    explodes n_bits rows per token and shuffles n_bits× the data for
    the same answer.)
    """
    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits must be in [1, 64], got {n_bits}")
    toks = spread(docs).select(
        F.col(DOC_ID).alias("id"), F.explode(TX.distinct_tokens(TEXT)).alias("token")
    )
    for salt in range((n_bits + 31) // 32):
        toks = toks.withColumn(
            f"h{salt}", F.md5(F.concat(F.col("token"), F.lit("~" * salt)))
        )
    # Vote + signature expressions are generated as SQL strings (one
    # F.expr each) instead of nested Column calls: the 64-bit width
    # built ~500 py4j round-trips of F.when/substring/isin chatter —
    # measured 3.8 s of pure driver build time per call at r11 vs
    # ~1.0 s of actual execution (the ANN literal-SQL lesson, guide
    # §1.2 "per-task work" at the driver). The digit test is the
    # equivalent single compare: md5 hex is [0-9a-f] and Spark string
    # comparison is bytewise, so IN ('8'..'f') ⟺ >= '8'.
    votes = [
        F.expr(
            f"sum(CASE WHEN substring(h{(i - 1) // 32}, {(i - 1) % 32 + 1}, 1)"
            f" >= '8' THEN 1 ELSE -1 END)"
        ).alias(f"v{i}")
        for i in range(1, n_bits + 1)
    ]
    per_doc = toks.groupBy("id").agg(*votes)
    # shiftleft keeps the bit in the JVM long even when it is the
    # sign bit (1 << 63 has no Python-literal long representation)
    sig = F.expr(
        "CAST("
        + " + ".join(
            f"IF(v{i} > 0, SHIFTLEFT(CAST(1 AS BIGINT), {n_bits - i}),"
            " CAST(0 AS BIGINT))"
            for i in range(1, n_bits + 1)
        )
        + " AS BIGINT)"
    )
    return per_doc.select("id", sig.alias("simhash"))


def _simhash_chunks(max_hamming: int, bits: int = 16) -> list[tuple[int, int]]:
    """(shift, mask) for each of ``max_hamming + 1`` contiguous bit
    chunks covering ``bits`` bits as evenly as possible. Pigeonhole: two
    signatures within Hamming distance ``max_hamming`` differ in at most
    ``max_hamming`` chunks, so at least one chunk matches exactly."""
    nchunks = max_hamming + 1
    base, rem = divmod(bits, nchunks)
    if base + (1 if rem else 0) > 63:
        # a 64-bit chunk mask has no long representation; the only way
        # to get here (bits=64, max_hamming=0) is better served by the
        # exact-equality arm anyway
        raise ValueError("chunk width > 63: raise max_hamming or lower bits")
    out, offset = [], 0
    for c in range(nchunks):
        width = base + (1 if c < rem else 0)
        out.append((offset, (1 << width) - 1))
        offset += width
    return out


def simhash_pairs(docs: DataFrame, n_bits: int, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``,
    within equal ``lang`` blocks.

    While ``max_hamming < n_bits``: the VALUE-level pigeonhole join.
    The signature space caps the distinct values at 2^n_bits, so
    pairing happens on distinct
    (block, simhash) VALUES — a relation bounded by
    min(2^n_bits, corpus) — via the band trick (split the bits into
    ``max_hamming + 1`` exact-match chunks; distance ≤ k ⇒ at least one
    chunk matches). The only corpus-sized stages are the signature
    groupBy and the final expansion of value-pairs back to doc-pairs,
    which is bounded by the OUTPUT size (every expanded row is a result
    row). EXACT, not approximate: the chunk join over-generates value
    candidates and the Hamming filter prunes them.

    ``n_bits`` sizes the fingerprint. 16 is the oracle-parity width, but it SATURATES on large corpora: two unrelated docs
    collide within hamming ≤ 3 with probability ~1.06% (sum of
    C(16,0..3) / 2^16), so once n ≫ 2^16 the OUTPUT itself — chance
    pairs, not plan cost — grows quadratically (measured in NOTES_r6:
    the 150k-doc sf3 corpus emits ~47M pairs at 16 bits vs ~23k genuine
    ones at 32). For corpora beyond ~50k docs use n_bits=32 (chance
    rate ~1.3e-6) or 64 (~1e-14); runtime then stays output-bound on
    GENUINE near-dups.

    With ``max_hamming >= n_bits`` every pair qualifies, and the
    doc-level all-pairs comparison within each block runs instead.

    The (id, simhash) table — one slim row per doc — is persisted
    because the banded plan reads it from five subtrees (value
    distinct, same-value pair sides, both expansion sides) and Spark
    would otherwise recompute the tokenize+hash per subtree.
    Same contract as ``minhash_lsh_pairs``: not auto-released
    mid-plan; ``release_dedup_caches()`` frees it between batches.
    """
    sh = simhash(docs.select(DOC_ID, TEXT), n_bits=n_bits)
    sh = _persist(
        sh.join(docs.select(F.col(DOC_ID).alias("id"), F.col("lang").alias("blk")), "id")
    )
    if max_hamming >= n_bits:
        a = sh.alias("a")
        b = sh.alias("b")
        return (
            a.join(b, F.col("a.blk") == F.col("b.blk"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .cast("int")
                .alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )

    # 1. distinct signature values per block — ≤ 2^16 rows per block
    vals = sh.select("blk", "simhash").distinct()
    chunks = _simhash_chunks(max_hamming, bits=n_bits)
    chunked = vals.select(
        "blk",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("c_idx"),
                        # long, not int: 32-bit chunks of a wide hash
                        # overflow int (shiftright sign-extends, but the
                        # mask clips the extension)
                        F.shiftright("simhash", shift)
                        .bitwiseAND(F.lit(mask))
                        .cast("long")
                        .alias("c_val"),
                    )
                    for i, (shift, mask) in enumerate(chunks)
                ]
            )
        ).alias("c"),
    ).select("blk", "simhash", F.col("c.c_idx").alias("c_idx"), F.col("c.c_val").alias("c_val"))
    va, vb = chunked.alias("va"), chunked.alias("vb")
    vpairs = (
        va.join(vb, ["c_idx", "c_val", "blk"])
        .filter(F.col("va.simhash") < F.col("vb.simhash"))
        .select(
            F.col("va.blk"),
            F.col("va.simhash").alias("v_a"),
            F.col("vb.simhash").alias("v_b"),
            F.bit_count(F.col("va.simhash").bitwiseXOR(F.col("vb.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )

    # 2a. same-value doc pairs (hamming 0)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    same = (
        sa.join(sb, ["simhash", "blk"])
        .filter(F.col("sa.id") < F.col("sb.id"))
        .select(
            F.col("sa.id").alias("id_a"),
            F.col("sb.id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    # 2b. cross-value doc pairs: expand each qualifying value pair —
    # every produced row IS a result row (output-bound, no pruning)
    da, db = sh.alias("da"), sh.alias("db")
    join_a = (F.col("da.simhash") == F.col("v_a")) & (F.col("da.blk") == F.col("vp.blk"))
    join_b = (F.col("db.simhash") == F.col("v_b")) & (F.col("db.blk") == F.col("vp.blk"))
    cross = (
        vpairs.alias("vp")
        .join(da, join_a)
        .join(db, join_b)
        .select(
            F.least(F.col("da.id"), F.col("db.id")).alias("id_a"),
            F.greatest(F.col("da.id"), F.col("db.id")).alias("id_b"),
            F.col("hamming"),
        )
    )
    return same.unionByName(cross)


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Pairs of embeddings with cosine ≥ threshold, blocked by the
    ``label`` column to avoid n².

    Plan shape: equi-join on the block key with the probe side spread
    across all cores and the build side UN-hinted — AQE picks broadcast
    at runtime when the build side measures small (small corpora keep
    the broadcast-hash-join plan) and falls back to a shuffle join with
    skew splitting when it doesn't, so there is no corpus-sized
    broadcast baked into the plan. When blocks themselves grow wide,
    switch the block key to a finer LSH bucket (similarity.lsh_bucket)
    — finer blocks cut the n² term itself. Norms are
    computed once per ROW, not per pair; the cosine formula dot/(na·nb)
    is unchanged so values are bit-identical to the naive form.
    """
    e = emb.select(
        F.col(VEC_ID).alias("id"), F.col(EMBEDDING).alias("v"), F.col("label").alias("blk")
    ).withColumn("nrm", V.norm(F.col("v")))
    a = spread(e).alias("a")
    b = e.alias("b")
    cos = V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    # equi-join on the block key, NO explicit broadcast: the build side
    # is the whole corpus, so a broadcast hint is a hard OOM ceiling at
    # scale. AQE broadcasts at runtime when it actually fits (small
    # corpora keep the fast plan), and splits skewed blocks otherwise.
    joined = a.join(b, F.col("a.blk") == F.col("b.blk"))
    return (
        joined.filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 3).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _star_contract(edges: DataFrame, max_rounds: int = 60) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the fallback ``dedup_clusters`` takes when
    min-label propagation hits its diameter ceiling.

    Input is a SYMMETRIC distinct edge list (src, dst); returns
    (id, cluster_id) for every node incident to an edge, cluster_id =
    the component minimum.

    - large-star(u): hang every strictly-larger neighbor onto
      m = min(neighbors(u) + u) — emit (v, m) for v > u.
    - small-star(u): hang u and every smaller neighbor onto m — emit
      (v, m) for v < u, plus (u, m).

    Each op preserves connected components; alternating them converges
    in O(log n) rounds REGARDLESS of diameter (a million-node path
    converges in ~20 rounds where propagation needs a million). Each op
    is one groupBy(src).min + one join + distinct; edges are
    localCheckpoint-ed per round for constant plan depth.
    """
    sym = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    for _ in range(max_rounds):
        # large-star
        mn = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        m = F.least(F.col("src"), F.col("mn"))
        ls = (
            sym.join(mn, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("a"), m.alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        sym_ls = (
            ls.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(
                ls.select(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star
        mn2 = sym_ls.groupBy("src").agg(F.min("dst").alias("mn"))
        m2 = F.least(F.col("src"), F.col("mn"))
        smaller = (
            sym_ls.join(mn2, "src")
            .filter(F.col("dst") < F.col("src"))
            .select(F.col("dst").alias("a"), m2.alias("b"))
        )
        selfrow = mn2.select(F.col("src").alias("a"), m2.alias("b"))
        ss = (
            smaller.unionByName(selfrow)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        new_sym = (
            ss.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(ss.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # exact fixed-point check (set equality); cheap at the scale a
        # fallback path runs at, and a silent false-converged would be
        # wrong answers
        if (
            new_sym.count() == sym.count()
            and new_sym.exceptAll(sym).limit(1).count() == 0
        ):
            sym = new_sym
            break
        sym = new_sym
    else:
        raise RuntimeError(
            f"_star_contract did not reach a fixed point in {max_rounds} "
            f"rounds — theoretically impossible for O(log n) convergence; "
            f"the edge list is likely being mutated concurrently"
        )
    # terminal state is a star per component rooted at the minimum:
    # leaves point at the root, the root's min neighbor is a leaf > it
    return (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("mn")).alias("cluster_id"),
        )
    )


def dedup_clusters(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    iterative min-label propagation, the step after pair generation in a
    real training-data dedup (keep one canonical doc per component).

    Each round every node adopts the minimum cluster label among itself
    and its neighbors; convergence takes O(component diameter) rounds —
    near-dup components are star/clique-shaped, so 2-4 rounds in
    practice. If a pathological chain exceeds 25 rounds, the
    operator falls back to ``_star_contract`` (Kiveris et al.
    large-star/small-star), which converges in O(log n) rounds
    regardless of diameter. Returns (id, cluster_id) with cluster_id =
    the component's minimum id; a doc is canonical iff
    id == cluster_id.

    Scale shape per round: one join keyed on the edge source (edges are
    persisted pre-partitioned on src, so only the label side shuffles)
    + one map-side-combined groupBy + one count (the convergence probe).
    Labels are ``localCheckpoint``-ed each round — each round references
    the previous labels TWICE (neighbor-min + own), so without plan
    truncation the logical plan doubles per round and Catalyst analysis
    goes exponential long before execution does; checkpointing keeps
    both plan size and lineage constant (persist alone only caches
    execution). Swap in reliable ``checkpoint`` on a cluster where
    executor loss must be replayable.

    ``nodes`` (any single-column DataFrame of ids — the corpus the pairs
    came from) names every doc; the docs that appear in no pair come back
    as singleton clusters. Pair ids outside ``nodes`` get no label.
    """
    sym = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # repartition BEFORE dropDuplicates: HashPartitioning(src) satisfies
    # the dedup aggregate's ClusteredDistribution(src, dst) (subset key),
    # so the dedup runs in the repartition's stage and the old
    # distinct-then-repartition second Exchange disappears (r11 A/B:
    # 2 exchanges -> 1, partitioning preserved for the per-round join).
    # Trade-off at scale: duplicates now cross the one shuffle un-combined
    # instead of map-side-deduped before an extra shuffle — near-dup pair
    # generators emit (a, b) at most once per pair, so raw-rows x 1
    # shuffle beats deduped-rows x 2.
    edges = (
        sym.unionByName(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    # the nodes are independent of the edge list, and round 1 needs BOTH
    # materialized — overlap the two jobs from a second driver thread
    # (guide §2.6) instead of paying them back-to-back; the count is
    # materialization-only, its value is discarded. Scheduling is FIFO,
    # so the checkpoint's tail back-fills with edge tasks.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    nodes = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
    with ThreadPoolExecutor(max_workers=1) as _pool:
        # the pool thread inherits the caller's job group and tags
        _edges_fut = _pool.submit(
            inheritable_thread_target(edges.sparkSession)(edges.count)
        )
        labels = nodes.select(
            "id", F.col("id").alias("cluster_id")
        ).localCheckpoint(eager=True)
        _edges_fut.result()
    for _ in range(25):
        nbr_min = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.src") == F.col("l.id"))
            .groupBy(F.col("e.dst").alias("id"))
            .agg(F.min(F.col("l.cluster_id")).alias("nbr_min"))
        )
        # the moved flag rides along in the SAME plan, so the
        # convergence probe is a scan-sum of the already-materialized
        # checkpoint — not (as previously) a full shuffle join of new
        # labels against old ones every round
        nmin = F.coalesce(F.col("n.nbr_min"), F.col("l.cluster_id"))
        # EAGER checkpoint deliberately: an r11 A/B with eager=False
        # (materialize inside the convergence probe's job, one job per
        # round instead of two) measured SLOWER on local[32] —
        # q_dedup_clusters 2.1→3.1 s, q_dedup_keep_best 2.3→3.5 s —
        # the lazy get-or-compute path under the agg costs more than a
        # dedicated materialization job saves. What the eager-vs-lazy
        # A/B did NOT rule out is job FUSION (VERDICT r11 #7): the
        # convergence sum now rides the checkpoint's own materialization
        # job as an ``Observation`` metric (CollectMetrics accumulates
        # per-task during the job; ``obs.get`` blocks until the listener
        # posts it, zero extra jobs) — 1 job per round instead of
        # checkpoint + a dedicated scan-sum of the checkpointed frame.
        obs = Observation()
        new_labels = (
            labels.alias("l")
            .join(nbr_min.alias("n"), "id", "left")
            .select(
                "id",
                F.least(F.col("l.cluster_id"), nmin).alias("cluster_id"),
                (nmin < F.col("l.cluster_id")).cast("long").alias("__moved"),
            )
            .observe(obs, F.sum("__moved").alias("moved"))
            # the metrics node sits below this projection, so the
            # checkpointed rows don't carry the probe column at all
            .select("id", "cluster_id")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["moved"] or 0
        labels = new_labels
        if changed == 0:
            break
    else:
        # diameter > 25: an unconverged propagation would report
        # ONE true component as several "canonical" clusters, so switch
        # to the large-star/small-star contraction, whose round count is
        # O(log n) regardless of diameter (VERDICT r3/r4 — the upgrade
        # path this docstring always named). Nodes with no incident edge
        # keep their singleton label.
        try:
            star = _star_contract(edges)
            labels = (
                nodes.join(star, "id", "left")
                .select(
                    "id",
                    F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
                )
                .localCheckpoint(eager=True)
            )
        except Exception:
            edges.unpersist()  # don't pin the edge list past a failure
            raise
    edges.unpersist()
    return labels


def keep_canonical(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Filter a corpus to one canonical document per near-dup cluster —
    the terminal step of the dedup pipeline (pairs → clusters → keep).

    Clusters are ``dedup_clusters(pairs, nodes=<the docs' ids>)``, so
    every doc has a cluster and a doc with no near-duplicate is its own
    singleton, kept. Canonical = the doc whose id IS its component's
    minimum. Returns the kept ``docs`` rows plus ``cluster_id``. One
    join, AQE-planned.
    """
    clusters = dedup_clusters(pairs, nodes=docs.select(DOC_ID))
    keep = clusters.filter(F.col("cluster_id") == F.col("id")).select(
        F.col("id").alias(DOC_ID), "cluster_id"
    )
    return docs.join(keep, DOC_ID)


def keep_best(docs: DataFrame, pairs: DataFrame, score_col: str) -> DataFrame:
    """Quality-aware sibling of ``keep_canonical``: per near-dup
    cluster keep the member with the HIGHEST ``score_col`` (ties →
    lowest id) instead of the arbitrary min-id member — the standard
    production policy ("keep the longest / highest-quality duplicate")
    when near-dup members genuinely differ, e.g. a page and its
    truncated syndication copy.

    Clusters are built over the docs' own ids, as in ``keep_canonical``,
    so a doc with no near-duplicate is a singleton cluster and kept.
    Returns the kept ``docs`` rows plus ``cluster_id``.

    Scale: winner selection is a map-side-combined min-of-struct
    groupBy on cluster_id — NOT a per-cluster rank window, for the
    same reason remove_duplicated_spans picks first occurrences with
    min-combining: a corpus-wide boilerplate cluster with millions of
    members would sort one hot window partition, while min-combining
    reduces it map-side. The score negates exactly (0 - x) so
    min(struct(-score, id)) realizes (max score, min id). A NULL
    score ranks WORST (struct ordering would otherwise sort the NULL
    field first and hand the win to the unscored member): it
    coalesces to +Infinity after negation, so an all-NULL cluster
    still keeps its min-id member rather than dropping whole.
    """
    clusters = dedup_clusters(pairs, nodes=docs.select(DOC_ID))
    scored = docs.select(
        F.col(DOC_ID).alias("id"), F.col(score_col).alias("__score")
    ).join(clusters, "id")
    winners = (
        scored.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    F.coalesce(
                        (F.lit(0) - F.col("__score")).cast("double"),
                        F.lit(float("inf")),
                    ).alias("ns"),
                    F.col("id").alias("kid"),
                )
            ).alias("w")
        )
        .select(F.col("w.kid").alias(DOC_ID), "cluster_id")
    )
    return docs.join(winners, DOC_ID)


def semantic_dedup(
    emb: DataFrame,
    dim: int,
    n_cells: int = 8,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    clustering + within-cluster cosine pruning. Embeddings are assigned
    to ``n_cells`` data-adaptive cells by the deterministic Lloyd
    quantizer (``similarity.ivf_assign`` — lowest-id init, fixed
    rounds, rounded means, so runs and engines agree); within each cell
    a row is DROPPED when a lower-id cell-mate sits at or above the
    cosine ``threshold`` (keep-lowest-id, the exact_dedup convention;
    the paper keeps the example farthest from the centroid — a
    one-line ORDER BY swap, but id order is reproducible across engines
    and growth, which the oracle discipline requires).

    Returns one row per input: (id, cell, n_near, witness_id, keep)
    where ``n_near`` counts lower-id cell-mates at/above threshold,
    ``witness_id`` is the smallest such id (NULL when kept), and
    ``keep`` is a 0/1 BIGINT.

    Scale shape: the quantizer is the IVF assign (zero-shuffle literal
    fold per iteration + one groupBy(cell) mean); pair generation is an
    equi-join ON CELL — the SemDeDup design point: the quadratic term
    is bounded per cell, and n_cells grows with the corpus (the paper
    uses 50k clusters at 8B docs) so cells stay ~constant-sized. No
    broadcast hint on either corpus side (AQE decides, splits skewed
    cells); norms are computed once per row, not per pair. The verdict
    join back onto the assignment is one AQE-decided equi-join on id.

    Cross-engine determinism: the cosine is rounded to 6 dp
    BEFORE the threshold compare (q_dedup_embedding precedent) and the
    raw cosine is deliberately NOT emitted — the output depends on
    floats only through the compare, so a last-ulp divergence flips a
    row only if a pair's cosine sits within ~1e-12 of the threshold.

    One formulation at every size: Column folds for both the Lloyd
    assign and the within-cell pair scoring (the oracle-bearing
    configuration). A cell's pairs are scored one lambda fold each, so
    large cells plan and run slowly; the SemDeDup answer is more cells.
    """
    from .similarity import ivf_assign  # deferred:
    # mirrors similarity's own deferred import of dedup._persist

    assigned, _ = ivf_assign(emb, dim, n_centroids=n_cells)
    e = _persist(assigned.withColumn("nrm", V.norm(F.col("v"))))
    a = spread(e).alias("a")
    b = e.alias("b")
    cos = V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    near = (
        a.join(b, F.col("a.cell") == F.col("b.cell"))
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(F.round(cos, 6) >= threshold)
        .groupBy(F.col("b.id").alias("id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_near"),
            F.min(F.col("a.id")).alias("witness_id"),
        )
    )
    return (
        e.join(near, "id", "left")
        .select(
            F.col("id").alias(VEC_ID),
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(F.col("n_near"), F.lit(0).cast("long")).alias("n_near"),
            F.col("witness_id"),
            F.col("witness_id").isNull().cast("int").cast("long").alias("keep"),
        )
    )


def _dup_shingle_table(docs: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """Shared shingle construction for the ExactSubstr pair
    (``duplicated_ngram_spans`` scores, ``remove_duplicated_spans``
    cuts): returns (base, sh) where base = persisted (id, toks,
    n_tokens) and sh = persisted (id, start, g) with g = md5 of the
    k-token shingle at 1-based ``start``. ONE spelling of the
    tokenize / >= k guard / sliced-md5 shingle — the two operators must
    agree about which spans are duplicated, so the construction lives
    here exactly once (the minhash-CTE lesson of r5)."""
    toks = TX.tokens(F.lower(F.col(TEXT)))
    base = _persist(
        docs.select(F.col(DOC_ID).alias("id"), toks.alias("toks")).withColumn(
            "n_tokens", F.size(F.col("toks")).cast("long")
        )
    )
    starts = F.when(
        F.col("n_tokens") >= k,
        F.sequence(F.lit(1), (F.col("n_tokens") - F.lit(k - 1)).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    sh = _persist(
        base.select(
            "id",
            F.explode(starts).alias("start"),
            F.md5(
                F.array_join(F.slice(F.col("toks"), F.col("start"), k), " ")
            ).alias("g"),
        )
    )
    return base, sh


def duplicated_ngram_spans(docs: DataFrame) -> DataFrame:
    """Repeated-substring detection (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every k-token
    shingle (k = 8) that occurs MORE THAN ONCE corpus-wide, and
    report, per document, how much of it is covered by duplicated
    spans — the signal the substring-dedup pass cuts on (the paper
    removes the spans; this operator scores them, and the span starts
    it derives are exactly the cut points a removal pass would use).

    Returns (id, n_tokens, n_dup_starts, covered_tokens, covered_frac):
    ``n_dup_starts`` = shingle positions whose shingle is duplicated,
    ``covered_tokens`` = |union of [start, start+k-1] over those
    positions| via the sorted-interval identity
    sum(min(k, next_start - start)) — exact integer math, engine-
    invariant.

    Scale: one posexplode bounded by total token count; shingles are
    md5-hashed so the duplicate groupBy shuffles 16-byte keys with
    map-side combine, not k-token strings; the duplicated-shingle join
    is id-agnostic equi-join (AQE decides; a corpus-wide hot shingle —
    boilerplate — is exactly what AQE skew split handles); the span
    union is a per-doc LEAD window + one groupBy, no driver state.
    """
    base, sh = _dup_shingle_table(docs, 8)
    dup = sh.groupBy("g").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") > 1
    )
    dstarts = sh.join(dup.select("g"), "g").select("id", "start")
    w = Window.partitionBy("id").orderBy("start")
    spans = dstarts.withColumn("nxt", F.lead("start").over(w)).select(
        "id",
        F.when(
            F.col("nxt").isNotNull(), F.least(F.lit(8), F.col("nxt") - F.col("start"))
        )
        .otherwise(F.lit(8))
        .alias("cov"),
    )
    agg = spans.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_starts"),
        F.sum("cov").cast("long").alias("covered_tokens"),
    )
    return (
        base.join(agg, "id", "left")
        .select(
            F.col("id").alias(DOC_ID),
            "n_tokens",
            F.coalesce("n_dup_starts", F.lit(0).cast("long")).alias("n_dup_starts"),
            F.coalesce("covered_tokens", F.lit(0).cast("long")).alias(
                "covered_tokens"
            ),
            # 0/0 on a zero-token doc is NULL in Spark; pin the defined
            # value both engines agree on (the remove_duplicated_spans /
            # ADVICE-r6 quality_filter lesson)
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("covered_tokens", F.lit(0).cast("long")).cast(
                        "double"
                    )
                    / F.col("n_tokens").cast("double"),
                    6,
                )
            )
            .alias("covered_frac"),
        )
    )


def remove_duplicated_spans(docs: DataFrame, k: int = 8) -> DataFrame:
    """The removal pass ``duplicated_ngram_spans`` scores for (Lee et
    al. 2022 ExactSubstr dedup): every length-``k`` token shingle that
    occurs more than once corpus-wide keeps its FIRST occurrence (min
    (id, start) in global order) and every other occurrence's span
    [start, start+k-1] is cut from its document; surviving tokens
    reassemble with single spaces. Returns (id, n_tokens, kept_tokens,
    removed_tokens, removed_frac, cleaned_text). Docs shorter than
    ``k`` tokens pass through unchanged; a doc that is a full duplicate
    of an earlier doc loses its entire token stream.

    Scale: the shingle table is the detector's (md5 16-byte keys, one
    posexplode bounded by total token count); first-occurrence is a
    map-side-combined ``min(struct(id, start))`` groupBy — NOT a
    per-shingle window, so a corpus-wide boilerplate shingle (millions
    of occurrences of one g) combines locally instead of sorting one
    hot partition. Span union per doc is the textbook gaps-and-islands
    pair of windows PARTITIONED BY DOC (bounded partitions), and the
    final surgery is a per-row HOF filter over (token index ×
    merged-interval list) — O(n_tokens × n_islands) per doc with no
    shuffle; merged islands are disjoint so n_islands ≤ n_tokens/k.
    """
    base, sh = _dup_shingle_table(docs, k)
    firsts = sh.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("id", "start")).alias("first"),
    ).filter(F.col("cnt") > 1)
    cuts = (
        sh.join(firsts, "g")
        .filter(
            ~(
                (F.col("id") == F.col("first.id"))
                & (F.col("start") == F.col("first.start"))
            )
        )
        .select("id", F.col("start").alias("s"), (F.col("start") + k - 1).alias("e"))
    )
    w = Window.partitionBy("id").orderBy("s", "e")
    prev_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = cuts.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(prev_e, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ivs = islands.groupBy("id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    ).groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("ms", "me"))).alias("ivs")
    )
    joined = base.join(ivs, "id", "left").withColumn(
        "ivs", F.coalesce("ivs", F.array().cast("array<struct<ms:int,me:int>>"))
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("ivs"),
            lambda iv: (iv["ms"] <= i + 1) & (i + 1 <= iv["me"]),
        ),
    )
    out = joined.select(
        F.col("id").alias(DOC_ID),
        "n_tokens",
        F.size(kept).cast("long").alias("kept_tokens"),
        (F.col("n_tokens") - F.size(kept)).cast("long").alias("removed_tokens"),
        # 0/0 on an empty doc is NULL in Spark but would be a CASE 0 in
        # SQL — pin the defined value both engines agree on (ADVICE r6
        # quality_filter lesson)
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("n_tokens") - F.size(kept)).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            )
        )
        .alias("removed_frac"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )
    return out


def minhash_pair_recall(docs: DataFrame) -> DataFrame:
    """Candidate-recall evaluation of the banded MinHash-LSH index —
    the dedup twin of the ANN recall harness: ground truth = EXACT
    shingle-set Jaccard pairs at 0.8 (the same ␟-joined
    3-word shingle space the MinHash signatures hash, so
    both arms measure the same similarity), candidates = the
    production ``minhash_lsh_pairs`` banding. Returns ONE row:
    (n_truth, n_candidates, n_hits, recall, precision) — recall is the
    number a dedup deployment must know before trusting the banded
    index; precision measures band selectivity (sub-threshold pairs
    the bands let through; with b bands of r rows the capture
    probability is 1-(1-s^r)^b, so both metrics are tunable).

    Scale: the truth arm is a postings self-join over distinct
    shingles — quadratic in group size BY DESIGN (exact ground truth);
    like ``q_ann_recall``'s brute-force arm, at corpus scale the
    harness runs on a sample while the candidate arm is the production
    path. Both metrics coalesce to 1.0 on empty denominators (no truth
    pairs → nothing to miss; no candidates → nothing spurious).
    """
    sh = spread(docs).select(
        F.col(DOC_ID).alias("id"),
        F.explode(TX.word_shingles(TEXT, 3)).alias("g"),
    )
    sh = _persist(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("ovl"))
    )
    jac = F.round(
        F.col("ovl").cast("double")
        / (F.col("sa.sz") + F.col("sb.sz") - F.col("ovl")).cast("double"),
        6,
    )
    truth = (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .filter(jac >= 0.8)
        .select("id_a", "id_b")
    )
    cand = minhash_lsh_pairs(docs).select(F.col("id_a"), F.col("id_b"))
    truth = _persist(truth)
    cand = _persist(cand)
    hits = truth.join(cand, ["id_a", "id_b"])
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    )
    return counts.select(
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(
            F.when(F.col("n_truth") == 0, F.lit(1.0)).otherwise(
                F.col("n_hits").cast("double") / F.col("n_truth")
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(F.col("n_candidates") == 0, F.lit(1.0)).otherwise(
                F.col("n_hits").cast("double") / F.col("n_candidates")
            ),
            6,
        ).alias("precision"),
    )


def verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate-pair VERIFICATION — the stage after LSH that fixes its
    precision: compute the exact shingle-set Jaccard for each candidate
    (id_a, id_b) and mark ``verified`` = jaccard >= ``threshold``. The
    banded index is recall-tuned and admits sub-threshold pairs
    (measured precision 0.345 at sf10, NOTES_r7 §16); production dedup
    is candidates → verify → clusters, and this operator is the middle
    step.

    Returns (id_a, id_b, ovl, jaccard, verified) — one row per input
    pair, ovl = shared distinct shingles (0 if a side has none),
    jaccard = ovl / (|A| + |B| - ovl) on the same ␟-joined
    ``shingle_n``-word shingle space the MinHash signatures hash.

    Scale — why this is NOT the quadratic truth arm of
    ``minhash_pair_recall``: intersections are computed ONLY for the
    candidate pairs. Shingling is restricted to docs appearing in a
    pair (semi-join first); the a-side explode attaches each pair's
    a-shingles (rows = Σ_pairs |A|, bounded by candidates), and the
    b-side is an equi-join on (id_b, shingle) — intersection rows
    only. No shingle self-join anywhere.
    """
    ids = (
        pairs.select(F.col("id_a").alias(DOC_ID))
        .unionByName(pairs.select(F.col("id_b").alias(DOC_ID)))
        .distinct()
    )
    sh = spread(docs.join(ids, DOC_ID, "left_semi")).select(
        F.col(DOC_ID).alias("id"),
        F.explode(TX.word_shingles(TEXT, shingle_n)).alias("g"),
    )
    sh = _persist(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    pa = pairs.join(
        sh.select(F.col("id").alias("id_a"), "g"), "id_a"
    )
    inter = (
        pa.join(sh.select(F.col("id").alias("id_b"), "g"), ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("ovl"))
    )
    ovl = F.coalesce("ovl", F.lit(0)).cast("long")
    denom = (
        F.coalesce(F.col("sa.sz"), F.lit(0))
        + F.coalesce(F.col("sb.sz"), F.lit(0))
        - ovl
    )
    jac = F.when(
        denom > 0, F.round(ovl.cast("double") / denom.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.alias("sa"), F.col("id_a") == F.col("sa.id"), "left")
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.id"), "left")
        .select(
            "id_a",
            "id_b",
            ovl.alias("ovl"),
            jac.alias("jaccard"),
            (jac >= F.lit(threshold)).cast("int").alias("verified"),
        )
    )
