"""Document-level text analysis: quality scoring, language-ID, token
counting, fingerprinting. DataFrame→DataFrame wrappers over the Column
helpers in functions/text.py — everything stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.text import DOC_ID, TEXT
from ..functions.vector import VEC_ID
from ..session import spread


def text_quality(docs: DataFrame) -> DataFrame:
    """Per-doc quality features: char/token counts, avg token length,
    punctuation ratio, and a composite keep/drop signal ("gopher-lite")."""
    n_chars = F.length(F.col(TEXT)).cast("long")
    n_tokens = TX.token_count(TEXT)
    avg_tok = F.round(n_chars.cast("double") / n_tokens.cast("double"), 4)
    punct_ratio = F.round(
        TX.punct_count(TEXT).cast("double") / n_chars.cast("double"), 6
    )
    return docs.select(
        F.col(DOC_ID),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        TX.char_token_estimate(n_chars).alias("est_bpe_tokens"),
        (
            (n_tokens >= 5)
            & (avg_tok >= 2.0)
            & (avg_tok <= 12.0)
        )
        .cast("int")
        .alias("quality_keep"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-word language scores + argmax prediction.

    Emits one score column per language in ``TX.LANG_MARKERS`` and
    ``pred_lang`` = language with the highest hit count (alphabetical
    tie-break). Deterministic; heuristic by design.
    """
    out = docs.select(F.col(DOC_ID), F.col(TEXT))
    langs = sorted(TX.LANG_MARKERS)
    for lang in langs:
        out = out.withColumn(
            f"score_{lang}", TX.marker_hits(TEXT, TX.LANG_MARKERS[lang])
        )
    # argmax with alphabetical tie-break: greatest(structs) trick avoided —
    # fold with explicit comparisons for portability
    pred = F.lit(langs[0])
    best = F.col(f"score_{langs[0]}")
    for lang in langs[1:]:
        s = F.col(f"score_{lang}")
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return out.select(
        DOC_ID, *[f"score_{lang}" for lang in langs], pred.alias("pred_lang")
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Normalized-text md5 fingerprint per document."""
    return docs.select(
        F.col(DOC_ID),
        TX.fingerprint(TEXT).alias("fingerprint"),
    )


#: The split policy: md5 bucket of the row id in [0, SPLIT_BUCKETS);
#: buckets below TRAIN_BUCKETS are train, the next VAL_BUCKETS are val,
#: the rest test.
SPLIT_BUCKETS = 100
TRAIN_BUCKETS = 90
VAL_BUCKETS = 5


def split_bucket() -> F.Column:
    """The deterministic split bucket of an id — first 4 hex digits of
    md5(id) mod ``SPLIT_BUCKETS``, an INT column. THE single spelling of
    the bucket arithmetic: ``assign_split`` builds its bucket/split
    columns from it, and compositions that only need a bucket PREDICATE
    (e.g. "keep the train split": ``split_bucket(...) < TRAIN_BUCKETS``)
    can filter on it directly instead of joining ``assign_split``'s
    projected output back onto the corpus — row-identical, minus a
    join."""
    h = F.md5(F.col(DOC_ID).cast("string"))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % SPLIT_BUCKETS


def assign_split(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment for corpus building.

    Bucket = ``split_bucket(id)`` — a pure function of the row id:
    stable across runs, engines, partitionings, and cluster sizes
    (unlike ``rand()`` or Spark's ``hash()``), so a document never
    migrates between splits as the corpus grows.
    """
    bucket = split_bucket().alias("bucket")
    split = (
        F.when(F.col("bucket") < TRAIN_BUCKETS, "train")
        .when(F.col("bucket") < TRAIN_BUCKETS + VAL_BUCKETS, "val")
        .otherwise("test")
    )
    return docs.select(F.col(DOC_ID), bucket).select(
        DOC_ID, F.col("bucket").cast("int").alias("bucket"), split.alias("split")
    )


def stratified_sample_hash(
    docs: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Deterministic per-stratum sampling by hash threshold.

    Keep a row iff ``uniform(id) < fraction(stratum)`` where
    ``uniform(id)`` = first 8 hex digits of md5(id ‖ ':sample') taken
    mod 10^6 — a pure function of the row id, like
    ``assign_split``: stable across runs, engines, partitionings, and
    cluster sizes, so the sample never churns as the corpus grows. The
    ``sample`` salt decorrelates sampling from split assignment, which
    hashes the bare id.

    Strata missing from ``fractions`` are dropped (sampleBy parity).
    Fraction granularity is 10^-6 (md5's 32-bit prefix is
    uniform, so the realized rate concentrates at the requested one).
    """
    h = F.md5(F.concat_ws(":", F.col(DOC_ID).cast("string"), F.lit("sample")))
    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 1_000_000
    thr = F.lit(-1)  # unknown stratum ⇒ threshold -1 ⇒ never kept
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(int(round(frac * 1_000_000)))
        ).otherwise(thr)
    return docs.filter(u < thr)


def _barrier(df: DataFrame, *cols) -> DataFrame:
    """Barrier projection: select ``cols`` plus a dropped
    nondeterministic column so CollapseProject cannot re-inline the
    stage into its consumers. Catalyst's subexpression elimination
    SKIPS lambda-bearing expressions (LambdaVariable can't be hoisted),
    so without a barrier every output column referencing a staged array
    HOF re-evaluates it per reference (measured 4.6x slower on
    repetition_stats at sf1 — the r6 lesson). The blocker is
    ``spark_partition_id()`` — nondeterministic for the optimizer
    (same two-Project staged plan as monotonically_increasing_id,
    verified) but, unlike it, SUPPORTED on streaming DataFrames, so
    the barrier-staged operators run unchanged on readStream sources.
    Trade-off: caller predicates don't push below the barrier, so only
    stage columns that every consumer computes anyway."""
    return df.select(*cols, F.spark_partition_id().alias("__bar")).drop("__bar")


def _run_stats(arr):
    """(best, singles) over an array: the longest equal-value run of the
    SORTED array (= max occurrence count of any value) and the number of
    values occurring exactly once. One array_sort + one linear
    ``F.aggregate`` fold — O(n log n) per document, no UDF, so the whole
    computation stays in codegen (the naive distinct×filter formulation
    is O(distinct · n), quadratic on repetitive documents — exactly the
    ones this operator exists to catch)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("singles"),
    )

    def step(acc, x):
        is_same = acc["prev"].isNotNull() & (x == acc["prev"])
        new_run = F.when(is_same, acc["run"] + 1).otherwise(F.lit(1))
        closed_single = F.when(
            acc["prev"].isNotNull() & ~is_same & (acc["run"] == 1), F.lit(1)
        ).otherwise(F.lit(0))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
            (acc["singles"] + closed_single).alias("singles"),
        )

    def finish(acc):
        return F.struct(
            acc["best"].alias("best"),
            (
                acc["singles"] + F.when(acc["run"] == 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("singles"),
        )

    return F.aggregate(F.array_sort(arr), init, step, finish)


def repetition_stats(docs: DataFrame, min_tokens: int = 20) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens taken by the most frequent unigram/bigram, and the fraction
    of bigram occurrences that are duplicated (value seen ≥ 2×) —
    boilerplate, keyword-stuffed, and loop-generated text score high.
    ``repetition_keep`` applies Gopher-like thresholds (top bigram
    ≤ 0.2, duplicated bigrams ≤ 0.3) to documents of at least
    ``min_tokens`` tokens; shorter documents pass unconditionally — on
    a 3-token doc every bigram is "the most frequent one", so the
    ratios are meaningless below a size floor (Gopher's own rules are
    likewise length-gated).
    """
    # Staged through _barrier projections (without them the bigram fold
    # ran 4x per row; measured 4.6x slower at sf1, 24.4 s vs 5.4 s).
    barrier = _barrier

    toks = TX.tokens(F.lower(F.col(TEXT)))
    s0 = barrier(docs, F.col(DOC_ID), toks.alias("__toks"))
    n0 = F.size(F.col("__toks")).cast("long")
    bgs = F.zip_with(
        F.slice(F.col("__toks"), 1, F.greatest(n0 - 1, F.lit(0)).cast("int")),
        F.slice(F.col("__toks"), 2, F.greatest(n0 - 1, F.lit(0)).cast("int")),
        lambda a, b: F.concat(a, F.lit("␞"), b),
    )
    s1 = barrier(
        s0,
        F.col(DOC_ID),
        n0.alias("__n"),
        bgs.alias("__bgs"),
        _run_stats(F.col("__toks")).alias("__u"),
    )
    s2 = barrier(
        s1,
        F.col(DOC_ID),
        F.col("__n"),
        F.size("__bgs").cast("long").alias("__nb"),
        F.col("__u"),
        _run_stats(F.col("__bgs")).alias("__b"),
    )
    n, nb = F.col("__n"), F.col("__nb")
    u, b = F.col("__u"), F.col("__b")
    top_uni = F.when(n > 0, F.round(u["best"].cast("double") / n, 6))
    top_bi = F.when(nb > 0, F.round(b["best"].cast("double") / nb, 6))
    dup_bi = F.when(
        nb > 0, F.round((nb - b["singles"]).cast("double") / nb, 6)
    )
    s3 = barrier(
        s2,
        F.col(DOC_ID),
        n.alias("n_tokens"),
        nb.alias("n_bigrams"),
        top_uni.alias("top_unigram_frac"),
        top_bi.alias("top_bigram_frac"),
        dup_bi.alias("dup_bigram_frac"),
    )
    return s3.select(
        DOC_ID,
        "n_tokens",
        "n_bigrams",
        "top_unigram_frac",
        "top_bigram_frac",
        "dup_bigram_frac",
        F.when(F.col("n_tokens") < min_tokens, F.lit(1))
        .otherwise(
            (
                (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) <= 0.2)
                & (F.coalesce(F.col("dup_bigram_frac"), F.lit(0.0)) <= 0.3)
            ).cast("int")
        )
        .alias("repetition_keep"),
    )


def c4_line_clean(docs: DataFrame) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2 — the
    public C4 heuristics): keep only lines that end in terminal
    punctuation (. ! ? ") and carry at least 4 words and do not mention
    "javascript"; then drop whole documents with fewer than 3 surviving
    lines, any "lorem ipsum" occurrence, or (policy/code fragments) a
    curly brace. Returns every input row annotated — ``c4_keep`` is the
    drop verdict and ``clean_text`` the line-filtered text — so the
    caller chooses between auditing and ``.filter("c4_keep = 1")``.

    Everything is array HOFs over one ``split`` — whole-stage codegen,
    no shuffle, no UDF: the operator is a pure map at any corpus size.
    """
    # spread: a few-file corpus scans as few tasks, serializing this
    # per-doc line/regex fold on a handful of cores (interleaved A/B at
    # sf0.1, r11: the single-row-group documents scan ran the whole map
    # in 1 task). No-op at scale (splits >= cores) and on shuffle-
    # bearing inputs — see spread's probing discipline.

    docs = spread(docs)
    lines = F.transform(F.split(F.col(TEXT), "\n"), lambda l: F.trim(l))

    def word_count(l):
        return F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))

    def line_ok(l):
        return (
            l.rlike('[.!?"]$')
            & (word_count(l) >= 4)
            & ~F.lower(l).contains(F.lit("javascript"))
        )

    kept = F.filter(lines, line_ok)
    low = F.lower(F.col(TEXT))
    doc_ok = (
        (F.size(kept) >= 3)
        & ~low.contains(F.lit("lorem ipsum"))
        & ~low.contains(F.lit("{"))
    )
    return docs.select(
        F.col(DOC_ID),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("clean_text"),
        doc_ok.cast("int").alias("c4_keep"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding-window token chunking — the context-window stage of a
    training/RAG pipeline: each document becomes overlapping windows of
    ``chunk_tokens`` whitespace tokens, window starts ``stride`` tokens
    apart (overlap = chunk_tokens - stride). Returns
    (id, chunk_id, chunk_text, n_chunk_tokens); empty documents emit no
    chunks, a trailing partial window is kept (truncation would drop
    tail tokens from the corpus).

    Plan shape: tokens → 1-based start positions via ``sequence(1, n,
    stride)`` → posexplode → ``slice`` + ``array_join``. One explode
    whose output IS the result (output-bound), everything else a pure
    Column map in whole-stage codegen — no shuffle, no UDF, no window
    function, so the operator is a flat map at any corpus size.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = TX.tokens(TEXT)
    # sequence(1, 0) THROWS in Spark (boundaries must move toward stop),
    # so the empty-document case needs an explicit empty array
    starts = F.when(
        F.size(toks) > 0, F.sequence(F.lit(1), F.size(toks), F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select(F.col(DOC_ID), toks.alias("__toks"), starts.alias("__starts"))
        .select(
            F.col(DOC_ID),
            F.col("__toks"),
            F.posexplode("__starts").alias("chunk_id", "__s"),
        )
        .select(
            F.col(DOC_ID),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("__s"), F.lit(chunk_tokens)), " "
            ).alias("chunk_text"),
            F.least(
                F.size("__toks") - F.col("__s") + 1, F.lit(chunk_tokens)
            ).cast("long").alias("n_chunk_tokens"),
        )
    )


#: PII patterns, applied in THIS order (earlier replacements can
#: destroy later matches, so order is part of the contract). Written in
#: the common subset of Java regex (Spark) and RE2 (DuckDB): no
#: lookarounds, no backreferences, ASCII \b word boundaries — which is
#: what lets q_pii_scrub carry a full cross-engine oracle. Separators
#: are REQUIRED in the phone/card patterns so a bare digit run is never
#: swallowed (10-digit ids stay intact).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CARD>"),
    ("phone", r"\b\d{3}[ .-]\d{3}[ .-]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def scrub_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing — the redaction stage every shareable training
    corpus needs: emails, SSN-shaped ids, separator-delimited card and
    phone numbers, IPv4 literals, each replaced by a typed placeholder
    token (masking, not deletion, preserves sentence structure for
    downstream tokenization).

    Returns (id, clean_text, n_email, n_ssn, n_card, n_phone, n_ip,
    pii_total). Counts are per-pattern on the INPUT text (independent
    of the replacement chain); ``clean_text`` applies the replacements
    sequentially in ``PII_PATTERNS`` order.

    Pure Column work — a chain of regexp_replace/regexp_count inside
    whole-stage codegen, no shuffle, no UDF: a flat map at any corpus
    size, exactly like c4_line_clean.
    """
    # spread: same rationale as c4_line_clean — the regex chain is the
    # cost and a few-file input would run it in as few tasks.

    docs = spread(docs)
    clean = F.col(TEXT)
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    counts = [
        F.regexp_count(F.col(TEXT), F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    total = None
    for name, _, _ in PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return docs.select(
        F.col(DOC_ID), clean.alias("clean_text"), *counts
    ).withColumn("pii_total", total.cast("long"))


def decontaminate(corpus: DataFrame, eval_docs: DataFrame, n: int = 5) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    n-gram with an evaluation set (the n-gram-overlap rule the public
    GPT-3 / PaLM / Llama data notes describe). Returns every corpus row
    annotated with ``n_hits`` (distinct overlapping n-grams) and a
    ``contaminated`` 0/1 — callers filter or audit.

    Scale shape: the eval side is definitionally small (benchmarks),
    so its distinct n-gram set broadcast-joins against corpus shingles
    computed map-side — the corpus itself never shuffles; only the
    (doc_id, hits) pairs — bounded by actual contamination — reach the
    aggregate. No hint: AQE broadcasts the eval set while it measures
    small (house rule: never bake a broadcast on a side that can grow).
    """

    def shingled(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(DOC_ID),
            F.explode(TX.word_shingles(F.col(TEXT), n)).alias("ngram"),
        )

    ev = shingled(eval_docs).select("ngram").distinct()
    # word_shingles is per-doc distinct, so count(*) after the inner
    # join counts DISTINCT overlapping n-grams per document.
    # spread: a small-file corpus arrives in few partitions and the
    # shingle explosion is the expensive step — same discipline as the
    # dedup operators (conditional: no-op for already-parallel inputs).

    hits = (
        shingled(spread(corpus))
        .join(ev, "ngram")
        .groupBy(DOC_ID)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(DOC_ID)
        .join(hits, DOC_ID, "left")
        .select(
            F.col(DOC_ID),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def contamination_report(
    corpus: DataFrame, eval_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Auditing sibling of ``decontaminate``: instead of a 0/1 flag,
    report HOW contaminated each corpus document is and BY WHICH
    evaluation item — what a data audit actually publishes (the
    GPT-3/Llama appendices report overlap fractions and the
    benchmarks responsible, not just drop counts):

      (id, n_shingles, n_hits, overlap_frac, top_eval_id,
       top_eval_hits)

    n_hits = distinct doc n-grams present anywhere in the eval set,
    overlap_frac = n_hits/n_shingles (0 for sub-n-gram docs),
    top_eval = the eval doc sharing the most n-grams (ties → lowest
    eval id), NULL for clean docs.

    Scale: same shape as decontaminate — the eval side is
    definitionally small, so its (eval_id, ngram) set joins the
    map-side corpus shingles (AQE broadcasts while it measures
    small); only contaminated (doc, eval, ngram) triples reach the
    aggregates. Attribution is a map-side-combined min-of-struct
    groupBy (the keep_best discipline), never a per-doc rank window.
    """
    def shingled(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(DOC_ID).alias(out),
            F.explode(TX.word_shingles(F.col(TEXT), n)).alias("ngram"),
        )


    ev = shingled(eval_docs, "eval_id").distinct()
    joined = shingled(spread(corpus), "cid").join(ev, "ngram")
    tot = joined.groupBy("cid").agg(
        F.count_distinct(F.col("ngram")).cast("long").alias("n_hits")
    )
    top = (
        joined.groupBy("cid", "eval_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
        .groupBy("cid")
        .agg(
            F.min(
                F.struct(
                    (F.lit(0) - F.col("hits")).alias("nh"),
                    F.col("eval_id").alias("eid"),
                )
            ).alias("w")
        )
        .select(
            "cid",
            F.col("w.eid").alias("top_eval_id"),
            (F.lit(0) - F.col("w.nh")).cast("long").alias("top_eval_hits"),
        )
    )
    # spread here too: this pass evaluates word_shingles over the FULL
    # corpus (size(), not explode), and a few-file input would run it
    # in as few tasks — measured 3.0 s of the operator's 4.1 s at sf0.1
    # serialized on 3 of 32 cores (r11; the ngram_diversity lesson).
    base = spread(corpus).select(
        F.col(DOC_ID).alias("cid"),
        F.size(TX.word_shingles(F.col(TEXT), n)).cast("long").alias("n_shingles"),
    )
    nh = F.coalesce("n_hits", F.lit(0)).cast("long")
    return (
        base.join(tot, "cid", "left")
        .join(top, "cid", "left")
        .select(
            F.col("cid").alias(DOC_ID),
            "n_shingles",
            nh.alias("n_hits"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(nh.cast("double") / F.col("n_shingles").cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap_frac"),
            "top_eval_id",
            "top_eval_hits",
        )
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic pseudo-random order and chunk the token stream at
    ``budget`` boundaries (the concat-then-chunk scheme of the public
    GPT-2/3 data descriptions). A document straddling a boundary
    contributes tokens to BOTH neighboring sequences; the output is one
    row per (document × overlapped sequence) with the token count it
    contributes — the manifest a tokenizer/writer consumes.

    Determinism & scale: shard and within-shard order are md5 functions
    of the row id (like ``assign_split`` — stable across runs, engines,
    partitionings), so the packing never churns as the corpus grows.
    The running token offset is a window sum PARTITIONED BY SHARD —
    there is no global sort; at cluster scale pick ``n_shards`` ≥ the
    parallelism you want (each shard is one independent token stream,
    exactly how multi-shard training data is laid out anyway).
    """
    sid = F.col(id_col).cast("string")
    h_sh = F.md5(F.concat_ws(":", sid, F.lit("pack:shard")))
    h_ord = F.md5(F.concat_ws(":", sid, F.lit("pack:ord")))
    base = docs.select(
        F.col(id_col),
        (F.conv(F.substring(h_sh, 1, 4), 16, 10).cast("int") % n_shards).alias(
            "shard"
        ),
        h_ord.alias("ord"),
        TX.token_count(TEXT).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = Window.partitionBy("shard").orderBy("ord", id_col)
    base = base.withColumn("tok_end", F.sum("n_tokens").over(w)).withColumn(
        "tok_start", F.col("tok_end") - F.col("n_tokens")
    )
    first = F.floor(F.col("tok_start") / budget)
    last = F.floor((F.col("tok_end") - 1) / budget)
    return base.withColumn("seq_id", F.explode(F.sequence(first, last))).select(
        F.col("shard"),
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col(id_col),
        (
            F.least(F.col("tok_end"), (F.col("seq_id") + 1) * budget)
            - F.greatest(F.col("tok_start"), F.col("seq_id") * budget)
        ).cast("long").alias("tok_in_seq"),
        F.col("n_tokens"),
    )


def vocab_top_terms(docs: DataFrame, top_n: int = 50) -> DataFrame:
    """Tokenizer-vocabulary building: the ``top_n`` most frequent
    lowercase tokens with corpus frequency, document frequency, and
    cumulative corpus coverage — the seed statistics a BPE/unigram
    tokenizer trainer consumes.

    Scale: ONE shuffle — explode + groupBy(token) with map-side combine
    (COUNT and approx-free COUNT(DISTINCT doc) ride the same expand);
    the corpus total rides the same aggregate tree as a second pass over
    the (already tiny) per-token table and broadcasts back. The top-n
    cut is a TakeOrdered (no full sort of the vocabulary), and the
    rank/coverage window runs over ``top_n`` rows only — never over the
    vocabulary, never over the corpus.
    """
    tok = docs.select(
        F.col(DOC_ID), F.explode(TX.tokens(F.lower(F.col(TEXT)))).alias("token")
    )
    freq = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"),
        F.countDistinct(DOC_ID).alias("doc_freq"),
    )
    total = freq.agg(F.sum("freq").alias("total"))
    top = (
        freq.orderBy(F.col("freq").desc(), "token")
        .limit(top_n)
        .crossJoin(F.broadcast(total))
    )
    w = Window.orderBy(F.col("freq").desc(), "token")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "token",
        F.col("freq").cast("long").alias("freq"),
        F.col("doc_freq").cast("long").alias("doc_freq"),
        F.round(
            F.sum("freq").over(w).cast("double") / F.col("total").cast("double"),
            6,
        ).alias("cum_coverage"),
    )


def frequent_items(
    items: DataFrame,
    item_col: str,
    share_den: int = 30,
) -> DataFrame:
    """Exact heavy hitters via a Misra-Gries candidate pass: every item
    whose frequency exceeds ``n / share_den`` (share > 1/share_den), with
    its EXACT count and share — deterministic output, sketch-bounded cost.

    Why not a plain groupBy(item): at 100 TB the item domain (tokens,
    URLs, n-grams) can hold billions of distinct values, so the exact
    groupBy shuffles the whole domain to find a handful of hitters. Here
    pass 1 runs Misra-Gries with k = share_den - 1 counters per partition
    (mapInPandas, batch-vectorized: per-batch value_counts merge into the
    counter dict, then the mergeable-summaries decrement — subtract the
    (k+1)-th largest and drop non-positives; Agarwal et al. 2012 keep the
    undercount ≤ n_p/(k+1), so every item with partition frequency above
    n_p/(k+1) survives, and summing over partitions, every GLOBAL hitter
    above n/share_den survives in at least one partition). Pass 2
    broadcast-semi-joins the ≤ k·n_partitions candidates back over the
    items for exact counts — the only shuffle carries ≤ k·n_partitions
    distinct keys, map-side combined. The final filter
    ``freq * share_den > n`` is exact integer math, so the result equals
    the oracle's HAVING clause no matter how MG was partitioned.

    The item count n is one count(*) job (parquet metadata-cheap on raw
    scans; a re-explode on derived inputs).

    Returns (item, freq, share), share rounded to 6 dp.
    """
    if share_den < 2:
        raise ValueError(f"share_den must be >= 2, got {share_den}")
    k = share_den - 1
    src = items.select(F.col(item_col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    n = src.count()

    def mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["item"].dropna().value_counts()
            for item, c in vc.items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                # mergeable-summaries decrement: subtract the (k+1)-th
                # largest count, drop what hits zero
                kth = sorted(counters.values(), reverse=True)[k]
                counters = {i: c - kth for i, c in counters.items() if c > kth}
        if counters:
            yield pd.DataFrame({"item": list(counters.keys())})

    candidates = src.mapInPandas(mg, schema="item string").distinct()
    exact = (
        src.join(F.broadcast(candidates), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.col("freq") * share_den > F.lit(n))
    )
    return exact.select(
        F.col("item"),
        "freq",
        F.round(F.col("freq").cast("double") / F.lit(float(n)), 6).alias(
            "share"
        ),
    )


#: Weight quantization scale for hashed_linear_score: integer weights in
#: [-WEIGHT_SCALE, WEIGHT_SCALE] divided by WEIGHT_SCALE, so per-token
#: weights are exact 2^-16 multiples and document sums stay EXACT in
#: BIGINT — the logit is one integer-to-double division per doc, immune
#: to float summation order across partitions and engines.
WEIGHT_SCALE = 1 << 16


def _hash_bucket(col: F.Column, dim: int) -> F.Column:
    """md5-derived feature bucket in [0, dim) — the portable hashing
    trick (q_dsir_select precedent): both engines parse the same 8 hex
    digits of the same md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % dim


def hashed_linear_score(
    docs: DataFrame,
    dim: int = 4096,
    bias: int = 0,
) -> DataFrame:
    """fastText-style linear classifier INFERENCE over hashed
    bag-of-words features — the quality/domain classifier stage of the
    CCNet / DCLM pipelines: logit(doc) = bias + Σ_tokens w[h(token) %
    dim], label = logit > 0. Training happens offline; at corpus scale
    the pipeline only ever runs the scoring pass, which is what this
    operator distributes.

    Returns (id, n_tokens, logit, label) for every doc; ``logit`` is
    ROUND((bias_int + Σ w_int) / WEIGHT_SCALE, 6) and ``label``
    a BIGINT 0/1 on the INTEGER sum's sign — weights are quantized to
    integer multiples of 2^-16 (the fixed-point posture real serving
    systems use), so the per-doc sum is exact BIGINT arithmetic and no
    float-summation-order or transcendental parity question exists
    between engines (the IEEE-primitives house rule; the sigmoid is
    monotone in the logit, so thresholding the logit IS thresholding
    the probability).

    The weights are a deterministic pseudo-model — w_int(b) =
    md5-uniform over [-WEIGHT_SCALE, WEIGHT_SCALE] — which keeps the
    operator self-contained for the oracle; scale shape: the whole
    scoring pass is ONE narrow Column fold per doc (tokenize → bucket →
    weight → integer sum), zero shuffles, zero joins.

    Measured alternative, rejected (sf10 = 500k docs, best-of-3): the
    fold pays TWO md5s per token (bucket + weight); baking the
    dim-bounded weight table as one array Literal and indexing it cuts
    that to one md5 + element_at — 37.5 s vs 46.7 s at sf10 — but adds
    ~2.5 s of per-run plan fixed cost that makes it a net LOSS at
    bench scale.

    The fold is stateless and narrow, so it runs unchanged on a
    readStream source (test-pinned, like the other cleaning stages).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    # spread: the tokenize→md5→sum fold is pure per-doc
    # CPU — a few-file corpus would run it on as few cores (r11
    # interleaved A/B; same rationale as c4_line_clean).

    docs = spread(docs)
    # NULL text reads as an empty doc (0 tokens, logit = bias) — and
    # F.size on a NULL array is -1 under legacy sizeOfNull, so the
    # coalesce must happen on the ARRAY, not the size
    toks = F.coalesce(
        TX.tokens(F.lower(F.col(TEXT))), F.array().cast("array<string>")
    )

    def w_int(tok: F.Column) -> F.Column:
        b = _hash_bucket(tok, dim)
        u = F.conv(
            F.substring(F.md5(F.concat(F.lit("w:"), b.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        return u % (2 * WEIGHT_SCALE + 1) - WEIGHT_SCALE

    scaled = docs.select(
        F.col(DOC_ID),
        F.size(toks).cast("long").alias("n_tokens"),
        # NULL text folds to a NULL sum — coalesce to 0 so the doc
        # scores exactly bias, like the oracle's COALESCE(ls, 0)
        (
            F.lit(int(bias)).cast("long")
            + F.coalesce(
                F.aggregate(
                    toks,
                    F.lit(0).cast("long"),
                    lambda acc, t: acc + w_int(t),
                ),
                F.lit(0).cast("long"),
            )
        ).alias("ls"),
    )
    return scaled.select(
        F.col(DOC_ID),
        "n_tokens",
        F.round(F.col("ls") / F.lit(float(WEIGHT_SCALE)), 6).alias("logit"),
        (F.col("ls") > 0).cast("long").alias("label"),
    )


def oov_rate(docs: DataFrame, vocab_size: int) -> DataFrame:
    """Out-of-vocabulary rate per document for a frequency-cut
    vocabulary — the tokenizer/vocab-design metric: fix the vocabulary
    to the ``vocab_size`` most frequent corpus tokens (ties → token
    asc, the vocab_top_terms cut) and report how much of each document
    falls outside it. High-OOV docs are the ones a word-level model
    would shred into <unk>; the corpus-level aggregate drives the
    vocab-size-vs-coverage decision the coverage curve
    (``vocab_top_terms``) summarizes globally.

    Returns (id, n_tokens, n_oov, oov_frac) for EVERY input doc
    (0-token docs report 0.0 — the quality_filter NULL-guard lesson).

    Scale: corpus counts are one map-side-combined shuffle; the top-V
    cut is orderBy+limit (TakeOrdered tree reduction, never a global
    sort); the V-row vocabulary BROADCASTS into a left-anti join
    against the exploded tokens, so only OOV (doc, token) rows reach
    the per-doc count; the final join back to per-doc token counts is
    id-equi and AQE-decided.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    tok = docs.select(
        F.col(DOC_ID), F.explode(TX.tokens(F.lower(F.col(TEXT)))).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        counts.orderBy(F.col("cnt").desc(), "token").limit(vocab_size).select("token")
    )
    oov = (
        tok.join(F.broadcast(vocab), "token", "left_anti")
        .groupBy(DOC_ID)
        .agg(F.count(F.lit(1)).cast("long").alias("n_oov"))
    )
    base = docs.select(
        F.col(DOC_ID),
        F.size(TX.tokens(F.lower(F.col(TEXT)))).cast("long").alias("n_tokens"),
    )
    nv = F.coalesce("n_oov", F.lit(0)).cast("long")
    return base.join(oov, DOC_ID, "left").select(
        F.col(DOC_ID),
        "n_tokens",
        nv.alias("n_oov"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(nv.cast("double") / F.col("n_tokens").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("oov_frac"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` terms by smoothed TF-IDF
    (``tf * (ln((N+1)/(df+1)) + 1)`` — the scikit-learn smoothing), the
    keyword-extraction / quality-signal stage of a corpus pipeline.

    Scale: tf is one explode + groupBy(doc, token) with map-side
    combine; df is a second groupBy over the (far smaller) tf table;
    N is a scalar broadcast. The df table joins back BY TOKEN — at
    corpus scale the vocabulary is millions of rows against billions of
    tf rows, and AQE broadcasts the small side. The top-k cut is a
    per-document window (partitioned rank), never a global sort.

    Cross-engine determinism: the score is rounded to 6 dp and the
    rank tie-breaks on (rounded score DESC, token ASC), so the oracle's
    libm ``ln`` and the JVM's agree on every emitted digit unless they
    diverge by ≥1e-6 on the same double input (they don't).
    """
    tf = (
        docs.select(
            F.col(DOC_ID), F.explode(TX.tokens(F.lower(F.col(TEXT)))).alias("term")
        )
        .groupBy(DOC_ID, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = docs.agg(F.countDistinct(DOC_ID).alias("n_docs"))
    score = F.round(
        F.col("tf").cast("double")
        * (
            F.log(
                (F.col("n_docs").cast("double") + F.lit(1.0))
                / (F.col("doc_freq").cast("double") + F.lit(1.0))
            )
            + F.lit(1.0)
        ),
        6,
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(DOC_ID),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            score.alias("score"),
        )
    )
    w = Window.partitionBy(DOC_ID).orderBy(F.col("score").desc(), "term")
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def mixture_resample(
    docs: DataFrame,
    strata_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """Data-mixture resampling with REPETITION: realize per-stratum
    target weights (e.g. "2.5× wiki, 0.3× crawl" domain mixing for a
    training run) by emitting each row ``floor(w)`` times plus one more
    with probability ``frac(w)``, the extra copy decided by the same
    deterministic id-hash uniform as ``stratified_sample_hash`` — so
    the realized mixture is reproducible across runs, engines,
    partitionings, and corpus growth. Downsampling is the w < 1 case
    (floor 0 + Bernoulli(w)); strata absent from ``weights`` drop.

    Returns (id, stratum, copy) with ``copy`` in 1..n — the copy index
    gives each repetition a distinct identity for downstream sequence
    packing/shuffling.

    Scale: one narrow map + an output-bound explode; no shuffle, no
    join (the weight table is a folded CASE literal — mixtures have
    tens of strata, not millions).
    """
    bad = {s: w for s, w in weights.items() if w < 0}
    if bad:
        raise ValueError(f"mixture weights must be >= 0, got {bad}")
    h = F.md5(F.concat_ws(":", F.col(DOC_ID).cast("string"), F.lit("mix")))
    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 1_000_000
    base = F.lit(0)
    thr = F.lit(-1)
    for stratum, w in sorted(weights.items()):
        whole = int(w)
        frac = int(round((w - whole) * 1_000_000))
        base = F.when(F.col(strata_col) == stratum, F.lit(whole)).otherwise(base)
        thr = F.when(F.col(strata_col) == stratum, F.lit(frac)).otherwise(thr)
    n = (base + (u < thr).cast("int")).alias("n")
    return (
        docs.select(F.col(DOC_ID), F.col(strata_col), n)
        .filter(F.col("n") >= 1)
        .select(
            DOC_ID,
            strata_col,
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("copy"),
        )
        .withColumn("copy", F.col("copy").cast("long"))
    )


def temperature_mixture(
    docs: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture resampling toward balance — the
    multilingual-sampling family (mT5/XLM-R style p^alpha damping):
    derive each stratum's repetition weight from its own corpus share,

        w_i = (n_max / n_i) ** alpha

    so alpha=0 leaves the natural mixture, alpha=1 fully balances
    strata to the largest, and intermediate alpha upweights rare
    strata with temperature damping. The derived weights feed the
    deterministic ``mixture_resample`` machinery (floor(w) copies +
    one more with probability frac(w) by the id-hash uniform), so the
    realized mixture is reproducible across runs/engines/layouts.

    Returns (id, stratum, w, copy) — ``w`` carried per row so the
    derivation itself is oracle-checked, not just its application.

    Scale: the stratum histogram is ONE map-side-combined groupBy
    collected to the driver — strata are languages/sources/domains
    (tens to thousands), so this is the PQ-codebook/BPE-driver-arm
    posture: coordination state is strata-sized, O(1) in the corpus.
    The resample itself is mixture_resample's zero-shuffle narrow map.

    Cross-engine determinism: counts are exact integers; at the
    default alpha=0.5 the weight is SQRT(nmax/n) — one correctly-
    rounded division of exact integers followed by IEEE-754 SQRT
    (correctly rounded BY SPEC, unlike EXP/POWER), so both engines
    produce the identical double before the 6-dp HALF_UP round. Other
    alphas use pow() and carry the documented last-ulp parity risk —
    keep oracle configs on 0.5.
    """
    import math

    from .similarity import _round_half_up

    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
        # a NULL stratum can't take a weight (mixture_resample's CASE
        # literals never match NULL, and None breaks the sorted()
        # weight fold) — such rows drop, the absent-strata semantics
        if r[0] is not None
    }
    if not counts:
        return mixture_resample(
            docs, strata_col, {}
        ).withColumn("w", F.lit(0.0)).select(DOC_ID, strata_col, "w", "copy")
    n_max = max(counts.values())
    weights = {
        s: _round_half_up(
            math.sqrt(n_max / n) if alpha == 0.5 else (n_max / n) ** alpha, 6
        )
        for s, n in counts.items()
    }
    mixed = mixture_resample(
        docs, strata_col, weights
    )
    wlit = F.lit(0.0)
    for s, w in sorted(weights.items()):
        wlit = F.when(F.col(strata_col) == s, F.lit(w)).otherwise(wlit)
    return mixed.select(DOC_ID, strata_col, wlit.alias("w"), "copy")


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the language-model quality-filter stage
    (CCNet scores docs with a KenLM n-gram model; the unigram model is
    the self-contained analogue): documents full of corpus-typical
    tokens score high, boilerplate/garbage scores low.

    ``avg_logprob = mean over tokens of ln(count(token) / total)``.

    Scale: corpus counts are one map-side-combined shuffle; the scalar
    total rides a second agg over the (tiny) count table and broadcasts
    back; scoring joins doc tokens to counts BY TOKEN (AQE broadcasts
    the vocabulary when it fits, sort-merge otherwise) and reduces per
    doc — no window, no driver collect.
    """
    tok = docs.select(
        F.col(DOC_ID), F.explode(TX.tokens(F.lower(F.col(TEXT)))).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        tok.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(DOC_ID)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(
                        F.col("cnt").cast("double")
                        / F.col("total").cast("double")
                    )
                ),
                6,
            ).alias("avg_logprob"),
        )
    )


def quality_filter(docs: DataFrame) -> DataFrame:
    """Gopher-style composite document quality filter (Rae et al. 2021
    §A1.1): per-document signals plus one 0/1 flag per rule and an
    overall ``passes`` — the actual keep/drop decision stage a training
    corpus pipeline runs after scoring. Rules: token-count bounds, mean
    token length bounds, alphabetic-token ratio, minimum stopword
    count, minimum distinct-token ratio (the repetition proxy).

    Scale: a pure narrow map — every signal is an array HOF over the
    per-row token array (size / filter / aggregate), no explode, no
    shuffle, no join, no UDF; whole-stage codegen end to end. The
    heavy token array is built ONCE behind a barrier projection (the
    q_text_repetition lesson: Catalyst re-inlines staged projections
    and re-evaluates lambda-bearing expressions per reference without
    it).

    Cross-engine determinism: char counts and token counts are exact
    integers, so every ratio is the same double on both engines;
    ratios are rounded to 6 dp before the threshold compare so
    the emitted value and the flag derive from the same number.
    """
    toks = TX.tokens(F.lower(F.col(TEXT)))
    staged = _barrier(docs, F.col(DOC_ID), toks.alias("toks"))
    n = F.size(F.col("toks")).cast("long")
    sum_chars = F.aggregate(
        F.col("toks"), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_len = F.round(sum_chars.cast("double") / n.cast("double"), 6)
    n_alpha = F.size(F.filter(F.col("toks"), lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.round(n_alpha.cast("double") / n.cast("double"), 6)
    n_stop = F.size(
        F.filter(F.col("toks"), lambda t: t.isin("a", "the"))
    ).cast("long")
    distinct_ratio = F.round(
        F.size(F.array_distinct(F.col("toks"))).cast("double") / n.cast("double"),
        6,
    )
    sig = _barrier(
        staged,
        F.col(DOC_ID),
        n.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.alias("n_stopwords"),
        distinct_ratio.alias("distinct_ratio"),
    )
    # Zero-token documents have NULL ratio signals (0/0): a bare
    # comparison would make fail_mean_len/fail_alpha/fail_diversity
    # NULL, while the DuckDB oracle's CASE WHEN yields 0 (ADVICE r6).
    # Define it explicitly: an UNDEFINED signal does not fail its own
    # rule — the empty doc is still dropped because fail_length fires
    # (0 < 40 tokens), so `passes` is unaffected; only the per-rule
    # flags needed pinning.
    flag = lambda c: F.coalesce(c.cast("int"), F.lit(0)).cast("long")  # noqa: E731
    fail_length = flag(
        (F.col("n_tokens") < 40) | (F.col("n_tokens") > 70)
    )
    fail_mean_len = flag(
        (F.col("mean_token_len") < 4.3)
        | (F.col("mean_token_len") > 4.7)
    )
    fail_alpha = flag(F.col("alpha_ratio") < 0.8)
    fail_stop = flag(F.col("n_stopwords") < 2)
    fail_diversity = flag(F.col("distinct_ratio") < 0.35)
    out = sig.select(
        DOC_ID,
        "n_tokens",
        "mean_token_len",
        "alpha_ratio",
        "n_stopwords",
        "distinct_ratio",
        fail_length.alias("fail_length"),
        fail_mean_len.alias("fail_mean_len"),
        fail_alpha.alias("fail_alpha"),
        fail_stop.alias("fail_stopwords"),
        fail_diversity.alias("fail_diversity"),
    )
    passes = (
        (F.col("fail_length") == 0)
        & (F.col("fail_mean_len") == 0)
        & (F.col("fail_alpha") == 0)
        & (F.col("fail_stopwords") == 0)
        & (F.col("fail_diversity") == 0)
    )
    return out.withColumn("passes", passes.cast("int").cast("long"))


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """BM25 top-``k`` document retrieval for a batch of text queries —
    the classic sparse-retrieval scorer (Robertson-Sparck Jones; the
    Lucene/Elasticsearch default) and the lexical arm of a RAG stack:

        score(q, d) = sum over distinct query terms t of
            idf(t) * tf(t,d)*(k1+1) / (tf(t,d) + k1*(1 - b + b*|d|/avgdl))
        idf(t) = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))   (Lucene form)

    with the Lucene defaults k1 = 1.2 and b = 0.75.

    Query term frequency is ignored (distinct terms), matching Lucene.
    Returns (query_id, doc_id, n_terms, score, rank), rank per query by
    (rounded score DESC, doc_id ASC), rows with rank <= k.

    Scale: the corpus-sized work is ONE explode semi-joined against the
    broadcast distinct-query-term set BEFORE the tf groupBy, so the only
    big shuffle carries candidate (doc, term) pairs — documents without
    any query term never shuffle. df comes from a second groupBy over
    the (candidate-only) tf table; N/avgdl ride a scalar aggregate over
    the narrow per-doc-length projection and broadcast back; the
    doc-length join is an equi-join AQE resolves (broadcast when the
    candidate side is small). The top-k cut is a per-query rank window
    over candidates only — never a global sort.

    Cross-engine determinism: tf/df/dl/N are exact integers; every
    per-term float op is written in the same left-associated order the
    DuckDB oracle uses, and the per-(query, doc) SUM is rounded to
    6 dp before ranking (the q_tfidf/q_unigram_logprob LN- and
    sum-parity precedent).
    """
    spark = docs.sparkSession
    qdf = spark.createDataFrame(queries, "query_id LONG, qtext STRING")
    qterms = qdf.select(
        "query_id",
        F.explode(F.array_distinct(TX.tokens(F.lower(F.col("qtext"))))).alias("term"),
    )
    term_set = qterms.select("term").distinct()
    # Deliberately NOT spread and NOT dl-persisted (r11 interleaved
    # A/B, min-of-4): the corpus tokenize is evaluated three times
    # (stats aggregate, doc-length join, candidate explode), but all
    # three subtrees run CONCURRENTLY inside one job, so on an
    # otherwise-idle box the "wasted" parallel passes beat both the
    # rebalance exchange (spread-only: 1.82 -> 2.31 s) and a
    # serialized persist-then-reuse of the slim dl table
    # (spread+persist: 2.62 s). Same loser shape as the other
    # explode->aggregate text queries.
    dl = docs.select(
        F.col(DOC_ID), F.size(TX.tokens(F.lower(F.col(TEXT)))).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tok = docs.select(
        F.col(DOC_ID), F.explode(TX.tokens(F.lower(F.col(TEXT)))).alias("term")
    )
    tf = (
        tok.join(F.broadcast(term_set), "term")
        .groupBy(DOC_ID, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    tfd = F.col("tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = tfd + F.lit(1.2) * (
        F.lit(1.0 - 0.75) + F.lit(0.75) * F.col("dl").cast("double") / F.col("avgdl")
    )
    term_score = idf * (tfd * F.lit(1.2 + 1.0)) / denom
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dft), "term")
        .join(dl, DOC_ID)
        .crossJoin(F.broadcast(stats))
        .select("query_id", DOC_ID, term_score.alias("ts"))
    )
    agg = scored.groupBy("query_id", DOC_ID).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.sum("ts"), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(DOC_ID))
    return agg.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    arm_k: int = 20,
) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al.,
    SIGIR 2009 — the Elasticsearch/OpenSearch/Vespa hybrid default):
    fuse a lexical BM25 arm over ``docs`` with a dense cosine arm over
    ``emb`` (the embedding row whose ``vec_id`` equals the query id is
    that query's vector), scoring each candidate

        rrf(q, d) = 1/(60 + lex_rank) + 1/(60 + dense_rank)

    with a term contributed only by arms that retrieved d in their
    top-``arm_k``. RRF needs only RANKS, never score calibration, which
    is exactly why it is the production fusion default — BM25 logs and
    cosines live on incomparable scales.

    Returns (query_id, doc_id, lex_rank, dense_rank, rrf, rank) with
    rank <= ``k`` per query by (rounded rrf DESC, doc_id ASC);
    lex_rank/dense_rank are NULL for the arm that missed the doc.

    Scale: all corpus-sized work happens inside the two arms, each
    already scale-shaped (bm25_topk semi-joins the broadcast query-term
    set before its tf shuffle; brute_force_topk broadcasts the query
    batch so the corpus never shuffles — swap in ivf_topk upstream for
    billion-vector corpora, the fusion is rank-source-agnostic). The
    fusion itself touches at most 2*arm_k rows per query: a full-outer
    equi-join plus one per-query rank window over <= 2*arm_k rows.

    Cross-engine determinism: both arms already rank on rounded scores
    with id tie-breaks; 1.0/(60 + rank) is exact-integer division
    into double, the two terms add in the written (lex + dense) order,
    and the fused score rounds to 6 before the final rank.
    """
    from .similarity import brute_force_topk

    lex = bm25_topk(
        docs, queries, k=arm_k
    ).select("query_id", DOC_ID, F.col("rank").alias("lex_rank"))
    qvecs = emb.filter(F.col(VEC_ID).isin([qid for qid, _ in queries]))
    dense = brute_force_topk(
        qvecs, emb, k=arm_k
    ).select(
        "query_id", F.col("neighbor_id").alias(DOC_ID), F.col("rank").alias("dense_rank")
    )
    fused = lex.join(dense, ["query_id", DOC_ID], "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("dense_rank")), F.lit(0.0)),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col(DOC_ID))
    return (
        fused.withColumn("rrf", rrf)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", DOC_ID, "lex_rank", "dense_rank", "rrf", "rank")
    )


def dsir_importance(docs: DataFrame, target: DataFrame) -> DataFrame:
    """DSIR-style data selection by importance resampling (Xie et al.
    2023): score every raw document by how much more likely its hashed
    token features are under a TARGET distribution (a small trusted
    subset — wiki-quality pages, a curated domain) than under the raw
    corpus distribution, then keep the top 100:

        log w(d) = sum over tokens of
            ln p_target(bucket(tok)) - ln p_raw(bucket(tok))

    with md5-hashed token buckets (256 of them) and Laplace
    smoothing ((c+1)/(total+B)) on both distributions. The bucket hash
    is the same engine-portable md5-prefix integer the split/sampler
    operators use, so runs, engines, and layouts agree.

    Returns the top 100 raw docs as (id, n_tokens, logratio, rank),
    rank by (rounded logratio DESC, id ASC).

    Scale: two token explodes (raw + target) each feeding ONE
    map-side-combined groupBy(bucket); the log-ratio table is at most
    256 rows and BROADCASTS to the token-level scoring join;
    the per-doc reduce is one groupBy(doc). The top-k cut is
    orderBy+limit — a TakeOrdered tree reduction, no global sort — and
    the rank window runs over 100 rows only (vocab_top_terms precedent).

    Cross-engine determinism: bucket counts and totals are exact
    integers so each bucket's log-ratio is the same double on both
    engines; the per-doc SUM rounds to 6 dp before ranking
    (q_unigram_logprob sum-parity precedent).
    """

    def bucketed(d: DataFrame) -> DataFrame:
        tok = d.select(
            F.col(DOC_ID), F.explode(TX.tokens(F.lower(F.col(TEXT)))).alias("token")
        )
        b = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
        return tok.select(F.col(DOC_ID), (b % 256).alias("bucket"))

    raw = bucketed(docs)
    tgt = bucketed(target)
    raw_counts = raw.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tgt_counts = tgt.groupBy("bucket").agg(F.count(F.lit(1)).alias("tc"))
    raw_total = raw_counts.agg(F.sum("rc").alias("rn"))
    tgt_total = tgt.agg(F.count(F.lit(1)).alias("tn"))
    lr = F.log(
        (F.coalesce(F.col("tc"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.col("tn").cast("double") + F.lit(256.0))
    ) - F.log(
        (F.col("rc").cast("double") + F.lit(1.0))
        / (F.col("rn").cast("double") + F.lit(256.0))
    )
    ratio = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .select("bucket", lr.alias("lr"))
    )
    scored = (
        raw.join(F.broadcast(ratio), "bucket")
        .groupBy(DOC_ID)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("lr"), 6).alias("logratio"),
        )
    )
    top = scored.orderBy(F.col("logratio").desc(), DOC_ID).limit(100)
    w = Window.orderBy(F.col("logratio").desc(), DOC_ID)
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def global_shuffle(docs: DataFrame, n_shards: int = 32) -> DataFrame:
    """Deterministic global training-order shuffle: the examples-
    randomization step before packing/writing a training corpus.
    Each row gets a pseudo-random md5 sort key (id ‖ ':shuffle' — a
    pure function of the row id like assign_split, so the order is
    reproducible across runs, engines, partitionings, and corpus
    growth); rows land in ``shard`` = first hash byte-pair mod
    ``n_shards`` and are ordered WITHIN their shard. Reading shards
    round-robin (or concatenated) yields the shuffled order.

    Returns (id, shard, pos) with pos 0-based within shard.

    Scale: ONE shuffle — the per-shard window partition — and no
    global sort anywhere (the pack_sequences posture: a total order
    over 100 TB is a single-reducer funnel; a sharded order with
    deterministic shard assignment gives the same statistical shuffle
    at full parallelism). Ties on the (astronomically unlikely) equal
    hash break by id.
    """
    h = F.md5(F.concat_ws(":", F.col(DOC_ID).cast("string"), F.lit("shuffle")))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % n_shards).alias(
        "shard"
    )
    base = docs.select(F.col(DOC_ID), h.alias("h"), shard)
    w = Window.partitionBy("shard").orderBy("h", DOC_ID)
    return base.select(
        DOC_ID,
        F.col("shard").cast("long").alias("shard"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def corpus_stats(docs: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Per-stratum corpus report card — the summary table a dataset
    release ships (per source: volume, token budget, language spread,
    quality pass rate, exact-duplicate rate). Composes
    ``quality_filter`` for the pass/fail decision and reduces
    everything in ONE groupBy(stratum).

    Scale: the narrow per-doc projection (token count via array size,
    md5 content hash) is a flat map; the quality join is id-equi
    (AQE-decided); the only shuffle is the final stratum groupBy —
    strata are few, and COUNT(DISTINCT lang/hash) rides Spark's
    expand-based distinct aggregation with map-side partials. The
    counts are exact: a hash-gated report must be.
    """
    qf = quality_filter(docs).select(
        F.col(DOC_ID), F.col("passes")
    )
    base = docs.select(
        F.col(DOC_ID),
        F.col("source"),
        F.col(lang_col).alias("lang"),
        F.md5(F.col(TEXT)).alias("h"),
        F.size(TX.tokens(F.lower(F.col(TEXT)))).cast("long").alias("n_toks"),
    )
    return (
        base.join(qf, DOC_ID)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.round(F.avg("n_toks"), 6).alias("mean_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.round(F.avg("passes"), 6).alias("pass_rate"),
            F.round(
                F.lit(1.0)
                - F.countDistinct("h").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("dup_rate"),
        )
    )


def line_dedup(pages: DataFrame) -> DataFrame:
    """C4-style corpus-wide line deduplication (Raffel et al. 2020 §2.2
    discard-all-but-one): every distinct line survives only at its
    FIRST occurrence — lowest (doc, line index) — and each page is
    reassembled from its surviving lines in original order.

    Returns (id, n_lines, n_kept, text) with ``text`` the deduplicated
    page ('' when every line was claimed earlier).

    Scale: one posexplode of the line table; the first-occurrence
    verdict is a row_number window PARTITIONED BY LINE — one hash
    shuffle on the line value (a hot boilerplate line is one skewed
    partition; AQE splits it) — and the reassembly is one groupBy(doc)
    collect_list sorted per row. No driver state, no global sort.
    """
    lines = pages.select(
        F.col(DOC_ID),
        F.posexplode(F.split(F.col(TEXT), "\n")).alias("idx", "line"),
    )
    w = Window.partitionBy("line").orderBy(DOC_ID, "idx")
    kept = (
        lines.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    totals = lines.groupBy(DOC_ID).agg(F.count(F.lit(1)).cast("long").alias("n_lines"))
    rebuilt = kept.groupBy(DOC_ID).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s.line,
            ),
            "\n",
        ).alias("text"),
    )
    return totals.join(rebuilt, DOC_ID, "left").select(
        DOC_ID,
        "n_lines",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("text", F.lit("")).alias("text"),
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean interpolated bigram log-probability under the
    corpus's own bigram/unigram statistics — the n-gram upgrade of
    ``unigram_logprob`` (one step closer to CCNet's KenLM scorer):

        p(w2 | w1) = 0.7 * c(w1 w2)/c(w1 ·) + 0.3 * c(w2)/total

    scored over positions 2..n and averaged. Documents of corpus-
    typical word SEQUENCES (not just typical words) score high.

    Returns (id, n_bigrams, avg_logprob); single-token and empty
    documents drop (no bigram positions — the unigram scorer covers
    them).

    Scale: bigram and unigram count tables are each ONE map-side-
    combined shuffle; the context table is a second tiny groupBy over
    the bigram counts; scoring joins the exploded bigram positions to
    the three count tables BY KEY (AQE broadcasts the vocabulary-sized
    sides when they fit) and reduces per doc. Counts are exact
    integers, the interpolation is written in the same left-associated
    order as the oracle, and the per-doc AVG rounds to 6 dp
    (q_unigram_logprob precedent).
    """
    toks = TX.tokens(F.lower(F.col(TEXT)))
    n0 = F.size(F.col("__toks")).cast("long")
    staged = _barrier(docs, F.col(DOC_ID), toks.alias("__toks"))
    bg = F.zip_with(
        F.slice(F.col("__toks"), 1, F.greatest(n0 - 1, F.lit(0)).cast("int")),
        F.slice(F.col("__toks"), 2, F.greatest(n0 - 1, F.lit(0)).cast("int")),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pos = staged.select(F.col(DOC_ID), F.explode(bg).alias("b")).select(
        F.col(DOC_ID), F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bc = pos.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ctx = bc.groupBy("w1").agg(F.sum("cb").alias("cc"))
    uni = docs.select(
        F.explode(TX.tokens(F.lower(F.col(TEXT)))).alias("tok")
    ).groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    total = uni.agg(F.sum("cu").alias("total"))
    p = F.lit(0.7) * (
        F.col("cb").cast("double") / F.col("cc").cast("double")
    ) + F.lit(1.0 - 0.7) * (
        F.col("cu").cast("double") / F.col("total").cast("double")
    )
    return (
        pos.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni, pos.w2 == F.col("tok"))
        .crossJoin(F.broadcast(total))
        .groupBy(DOC_ID)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 6).alias("avg_logprob"),
        )
    )


def kneser_ney_logprob(docs: DataFrame, discount: float = 0.75) -> DataFrame:
    """Per-document mean INTERPOLATED KNESER-NEY bigram log-probability
    under the corpus's own statistics — the actual smoothing family
    CCNet's KenLM scorer uses (Wenzek et al. 2020), one rung above
    ``bigram_logprob``'s MLE interpolation:

        p(w2 | w1) = (c(w1 w2) - D) / c(w1 ·)
                     + D * N1+(w1 ·) / c(w1 ·) * Pcont(w2)
        Pcont(w2)  = N1+(· w2) / N1+(· ·)

    with discount ``D`` in (0, 1), N1+(w1 ·) the distinct continuations
    of w1, N1+(· w2) the distinct left-contexts of w2, and N1+(· ·) the
    distinct bigram types. Scoring is over the training corpus itself,
    so every scored bigram has c >= 1 > D and the max(·, 0) clamp of the
    general KN formula can never bind (documented, not applied — the
    oracle spells the same expression).

    Returns (id, n_bigrams, avg_logprob); documents with < 2 tokens drop
    (no bigram positions — the unigram scorer covers them).

    Scale: identical shape to ``bigram_logprob`` — the bigram count
    table is ONE map-side-combined shuffle; the context table (cc +
    N1+(w1·)) and the continuation table (N1+(·w2)) are two tiny
    groupBys over the bigram-type table, the type total is a 1-row
    broadcast, and scoring joins the exploded positions to the count
    tables BY KEY (AQE broadcasts vocabulary-sized sides). The division/
    multiplication chain is written left-associated in the same order as
    the oracle so both engines fold the same IEEE doubles.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    toks = TX.tokens(F.lower(F.col(TEXT)))
    n0 = F.size(F.col("__toks")).cast("long")
    staged = _barrier(docs, F.col(DOC_ID), toks.alias("__toks"))
    bg = F.zip_with(
        F.slice(F.col("__toks"), 1, F.greatest(n0 - 1, F.lit(0)).cast("int")),
        F.slice(F.col("__toks"), 2, F.greatest(n0 - 1, F.lit(0)).cast("int")),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pos = staged.select(F.col(DOC_ID), F.explode(bg).alias("b")).select(
        F.col(DOC_ID), F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bc = pos.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ctx = bc.groupBy("w1").agg(
        F.sum("cb").alias("cc"), F.count(F.lit(1)).alias("n1f")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    types = bc.agg(F.count(F.lit(1)).cast("double").alias("types"))
    p = (
        (F.col("cb").cast("double") - F.lit(discount))
        / F.col("cc").cast("double")
        + F.lit(discount)
        * F.col("n1f").cast("double")
        / F.col("cc").cast("double")
        * (F.col("n1b").cast("double") / F.col("types"))
    )
    return (
        pos.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .groupBy(DOC_ID)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 6).alias("avg_logprob"),
        )
    )


def perplexity_buckets(docs: DataFrame, n_buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
    score every document with the corpus bigram LM
    (``bigram_logprob``), then split the corpus into ``n_buckets``
    equal-population quality tiers by ascending mean negative
    log-likelihood — bucket 1 ('head') is the most corpus-typical
    text, the last ('tail') the least; CCNet trains on head+middle.
    avg_nll is a monotone transform of perplexity (ppl = e^avg_nll),
    so the tiers are exactly CCNet's perplexity tertiles without ever
    evaluating EXP — whose last-ulp behavior differs across engines —
    in the hash-compared output.

    Returns per doc (id, n_bigrams, avg_nll, q_nll, bucket, label)
    where q_nll is avg_nll quantized to 3 decimals (the
    histogram key the tiers are computed on), bucket is 1..n_buckets,
    and label is head/middle/tail. Single-token and empty docs drop
    (no bigram positions — inherited from the scorer).

    Scale — how equal-population tiers avoid a global sort: an NTILE
    over the corpus would global-sort into one partition. Instead the
    quantized scores groupBy into a HISTOGRAM whose cardinality is
    bounded by the score range times 10^3 (thousands of rows
    at any corpus size), the cumulative count runs as a window over
    that bounded histogram, each value's bucket is the pure-integer
    ceil-division (cum*n_buckets + N - 1) div N, and the value->bucket
    map broadcast-joins back to the per-doc scores. Value-tied docs
    share a tier by construction, so tier populations are equal up to
    quantization ties.

    Cross-engine determinism: avg_nll = 0.0 - rounded avg_logprob
    (written as a subtraction so a zero score yields +0.0, never
    -0.0); counts and the bucket rule are exact integers.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    lp = bigram_logprob(docs)
    scored = lp.select(
        DOC_ID,
        "n_bigrams",
        F.round(F.lit(0.0) - F.col("avg_logprob"), 6).alias("avg_nll"),
        F.round(F.lit(0.0) - F.col("avg_logprob"), 3).alias("q_nll"),
    )
    hist = scored.groupBy("q_nll").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    # single-partition window, but over the bounded histogram — the
    # vocabulary-sized-table posture, not a corpus sort
    cumw = (
        Window.orderBy("q_nll")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # n_total = SUM(cnt) over the whole histogram, as a second frame of
    # the SAME Window node (same partitioning+ordering) — the previous
    # scored.count() scalar re-ran the whole scored reduce side as a
    # second subtree just to count rows the histogram already counts
    # (r11; interleaved A/B −11%, output bit-identical)
    totw = (
        Window.orderBy("q_nll")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    buckets = (
        hist.withColumn("cum", F.sum("cnt").over(cumw))
        .withColumn("n_total", F.sum("cnt").over(totw))
        .select(
            "q_nll",
            F.expr(f"CAST((cum * {int(n_buckets)} + n_total - 1) DIV n_total AS BIGINT)").alias(
                "bucket"
            ),
        )
    )
    label = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return (
        scored.join(F.broadcast(buckets), "q_nll")
        .select(DOC_ID, "n_bigrams", "avg_nll", "q_nll", "bucket", label.alias("label"))
    )


def budget_select(
    scored: DataFrame,
    token_budget: int,
    score_col: str = "score",
) -> DataFrame:
    """Token-budget corpus selection — "take the best N tokens": keep
    the highest-``score_col`` documents until their token counts fill
    ``token_budget`` (the assemble-a-1B-token-subset step after any
    scorer: LM logprob, DSIR ratio, a quality model).

    Scale — the same bounded-histogram trick as ``perplexity_buckets``:
    ranking the corpus and cutting at a running token sum would be a
    global sort + unpartitioned window; instead scores quantize to
    3 decimals, per-value token sums groupBy into a
    BOUNDED histogram, the cumulative sum runs score-DESCENDING over
    that histogram, and the selected score values broadcast-join back.
    Selection is all-or-nothing per quantized score value: the
    budget-straddling value is kept whole (overshoot bounded by one
    bucket's tokens). Rows with NULL score are excluded
    (unrankable — the brute_force_topk convention).

    Returns the selected rows as (id, tokens, q_score); exact-integer
    token arithmetic end to end, so both engines agree bit-for-bit
    given equal scores.
    """
    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0, got {token_budget}")
    base = scored.select(
        F.col(DOC_ID),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col(score_col), 3).alias("q_score"),
    ).filter(F.col("q_score").isNotNull())
    hist = base.groupBy("q_score").agg(
        F.sum("n_tokens").cast("long").alias("bt")
    )
    # score-descending window over the bounded histogram — the
    # vocabulary-sized-table posture, not a corpus sort
    cumw = (
        Window.orderBy(F.col("q_score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = (
        hist.withColumn("cum", F.sum("bt").over(cumw))
        .filter(F.col("cum") - F.col("bt") < F.lit(int(token_budget)))
        .select("q_score")
    )
    return base.join(F.broadcast(sel), "q_score").select(
        DOC_ID, "n_tokens", "q_score"
    )


#: Symbol delimiter for BPE training: every symbol is stored as
#: SEP+symbol+SEP inside the word string, so a plain (non-regex)
#: replace of SEP+a+SEP+SEP+b+SEP can only match at symbol boundaries,
#: and both engines' replace() scans left-to-right non-overlapping —
#: exactly BPE's greedy merge semantics ("aaa" + merge(a,a) -> "aa","a").
_BPE_SEP = "\x1f"


#: ``bpe_train`` trains driver-side when the word-
#: frequency table fits comfortably on the driver (the PQ-codebook
#: posture: training state is vocabulary-sized, O(1) in the corpus) and
#: falls back to the distributed per-round schedule above it. 200k
#: distinct words x ~100 bytes is ~20 MB — trivially collectable; real
#: web corpora have 1e6-1e8 distinct "words" only before normalization,
#: and the distributed arm exists precisely for those.
MAX_DRIVER_WORDS = 200_000


def _bpe_train_incremental(
    rows: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Incremental-pair-count BPE trainer (VERDICT r7 #8) — the
    sentencepiece / HF-tokenizers structure: pair counts live in a dict
    maintained by delta updates, the argmax comes off a lazy max-heap,
    and each merge touches ONLY the words that contain the merged pair
    (an inverted pair→word index) instead of re-scanning the whole
    vocabulary. Per-merge cost is O(total length of affected words +
    heap ops) — flat enough for real 32k-merge vocabularies where a
    plain one-pass-per-merge trainer (the property test's reference) is
    O(V · merges).

    Semantics are byte-identical to the reference arm — same greedy
    left-to-right replace, same (count DESC, pair lexicographic ASC)
    tie-break (the heap orders by (-count, pair), so among max-count
    entries the lexicographically smallest pair pops first) — pinned by
    the arm-agreement property test at 10 and 1000 merges.

    Lazy-heap invariant: every time a pair's count changes to v > 0 a
    fresh (-v, pair) entry is pushed; pops that disagree with the live
    dict are stale and discarded, so the first AGREEING pop is the true
    maximum."""
    import heapq

    syms_list = [list(w) for w, _ in rows]
    freqs = [c for _, c in rows]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_where: dict[tuple[str, str], set[int]] = {}

    def scan_word(i: int, sign: int, touched: set | None) -> None:
        s, c = syms_list[i], freqs[i] * sign
        for a, b in zip(s, s[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + c
            if sign > 0:
                pair_where.setdefault(p, set()).add(i)
            if touched is not None:
                touched.add(p)

    for i in range(len(syms_list)):
        scan_word(i, +1, None)
    heap = [(-c, p) for p, c in pair_counts.items() if c > 0]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negc and -negc > 0:
                best = (p, -negc)
                break
        if best is None:
            break
        (s1, s2), c = best
        merges.append((step, s1, s2, s1 + s2, c))
        touched: set[tuple[str, str]] = set()
        for i in pair_where.pop((s1, s2), ()):  # only words holding the pair
            syms = syms_list[i]
            out, j, hit = [], 0, False
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == s1 and syms[j + 1] == s2:
                    out.append(s1 + s2)
                    j += 2
                    hit = True
                else:
                    out.append(syms[j])
                    j += 1
            if not hit:  # stale index entry — the pair was merged away
                continue
            scan_word(i, -1, touched)
            syms_list[i] = out
            scan_word(i, +1, touched)
        for p in touched:
            v = pair_counts.get(p, 0)
            if v > 0:
                heapq.heappush(heap, (-v, p))
    return merges


def bpe_train(docs: DataFrame, n_merges: int = 10) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    ``n_merges`` merge rules over the corpus's word-frequency table.
    Each round finds the most frequent adjacent symbol pair (ties:
    count DESC, then pair lexicographic ASC) and merges every greedy
    left-to-right occurrence across the vocabulary.

    Returns the merge table (step, lhs, rhs, merged, pair_count) — the
    artifact a tokenizer ships. Stops early if the vocabulary runs out
    of adjacent pairs.

    Scale: BPE training runs over the WORD-FREQUENCY table, not the
    corpus — one corpus-sized explode+groupBy builds it. When that
    table fits on the driver (``MAX_DRIVER_WORDS``), training runs
    there through the incremental pair-count trainer
    (``_bpe_train_incremental`` — delta-maintained pair counts, lazy
    max-heap argmax, inverted pair→word index; r8: real 32k-merge
    vocabularies train in minutes where the one-pass-per-merge
    reference is O(V·merges)); above it,
    each round is (a) a pair-count groupBy over the vocabulary
    (map-side combined; vocabulary rows, not corpus rows), (b) a 1-row
    driver collect of the argmax (the Lloyd-coordination pattern), and
    (c) a narrow string replace applied to every word, re-persisted
    per round (constant lineage depth) — distributed, never collected.
    Both arms share the exact tie-break and greedy replace semantics;
    arm agreement is property-tested.

    Cross-engine determinism: counts are exact integers; the merge
    application is a PLAIN substring replace on the SEP-delimited
    symbol string (byte-identical semantics both engines — see
    _BPE_SEP); the oracle unrolls the same rounds as CTEs.
    """
    spark = docs.sparkSession
    sep = _BPE_SEP
    words = (
        docs.select(F.explode(TX.tokens(F.lower(F.col(TEXT)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # one job: LIMIT max+1 tells us (a) whether the vocabulary fits
    # and (b) if it does, hands us ALL of it — no separate count
    probe = words.limit(MAX_DRIVER_WORDS + 1).collect()
    if len(probe) <= MAX_DRIVER_WORDS:
        merges = _bpe_train_incremental([(r.w, r.cnt) for r in probe], n_merges)
        return spark.createDataFrame(
            merges,
            "step LONG, lhs STRING, rhs STRING, merged STRING, pair_count LONG",
        )
    delim = F.concat_ws(
        "",
        F.transform(
            F.split(F.col("w"), ""),
            lambda c: F.concat(F.lit(sep), c, F.lit(sep)),
        ),
    )
    cur = words.select(delim.alias("s"), "cnt").persist()
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for step in range(1, n_merges + 1):
            syms = F.split(
                F.col("s").substr(F.lit(2), F.length("s") - 2), sep + sep
            )
            n = F.size(syms)
            pair = F.explode(
                F.zip_with(
                    F.slice(syms, 1, F.greatest(n - 1, F.lit(0)).cast("int")),
                    F.slice(syms, 2, F.greatest(n - 1, F.lit(0)).cast("int")),
                    lambda a, b: F.struct(a.alias("s1"), b.alias("s2")),
                )
            )
            top = (
                cur.select(F.col("cnt"), pair.alias("p"))
                .groupBy("p.s1", "p.s2")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), "s1", "s2")
                .limit(1)
                .collect()
            )
            if not top:
                break
            s1, s2, c = top[0].s1, top[0].s2, int(top[0].c)
            merges.append((step, s1, s2, s1 + s2, c))
            pat = f"{sep}{s1}{sep}{sep}{s2}{sep}"
            rep = f"{sep}{s1}{s2}{sep}"
            nxt = cur.select(
                F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"), "cnt"
            ).persist()
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return spark.createDataFrame(
        merges, "step LONG, lhs STRING, rhs STRING, merged STRING, pair_count LONG"
    )


def bpe_encode_counts(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned BPE merge table (``bpe_train`` output order
    matters — merges apply sequentially) and report per-document BPE
    token counts — the REAL token budget a trained tokenizer would
    produce, vs. the whitespace/char estimates in ``text_quality``.

    Returns (id, n_words, n_chars, n_bpe_tokens, chars_per_token).

    Every word becomes its SEP-delimited symbol string and the merge
    list applies as a fixed chain of plain substring replaces inside ONE
    array transform (oracle parity; pytest-pinned against a sequential
    Python reference on random corpora and on the rank-resurrection
    adversarial case). One greedy left-to-right replace removes EVERY
    occurrence of its pair, so each merge reaches its fixpoint in one
    pass and a pair a later merge resurrects is never revisited.
    Symbol counting needs no re-split: each symbol carries exactly two
    SEP bytes, so n_symbols = SEP_count / 2. The chain is one plan node
    per merge: a real ~32k-rule table is still correct but plans
    slowly; every query uses 10 merges.
    """
    sep = _BPE_SEP
    # spread: the per-doc encode map (a codegen'd replace chain) costs
    # CPU, not I/O — a few-file corpus would serialize it on as few
    # cores (r11 interleaved A/B: bpe_encode/encode_ids/
    # tokenizer_fertility all win; no-op at scale or on shuffle-bearing
    # inputs).

    docs = spread(docs)

    def encode(word):
        s = F.concat_ws(
            "",
            F.transform(
                F.split(word, ""),
                lambda c: F.concat(F.lit(sep), c, F.lit(sep)),
            ),
        )
        for s1, s2 in merges:
            s = F.replace(
                s,
                F.lit(f"{sep}{s1}{sep}{sep}{s2}{sep}"),
                F.lit(f"{sep}{s1}{s2}{sep}"),
            )
        return s

    toks = TX.tokens(F.lower(F.col(TEXT)))
    staged = _barrier(
        docs,
        F.col(DOC_ID),
        F.transform(toks, encode).alias("ws"),
    )
    n_syms = F.aggregate(
        F.col("ws"),
        F.lit(0).cast("long"),
        # SEP count is always even (two per symbol), so the halved
        # double is integral and the long cast is exact
        lambda acc, w: acc
        + (
            (F.length(w) - F.length(F.replace(w, F.lit(sep), F.lit("")))) / 2
        ).cast("long"),
    )
    n_chars = F.aggregate(
        F.col("ws"),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(F.replace(w, F.lit(sep), F.lit(""))),
    )
    out = _barrier(
        staged,
        F.col(DOC_ID),
        F.size(F.col("ws")).cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        n_syms.cast("long").alias("n_bpe_tokens"),
    )
    return out.withColumn(
        "chars_per_token",
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens").cast("double"),
            6,
        ),
    )


def ngram_diversity(docs: DataFrame) -> DataFrame:
    """Corpus distinct-n diversity (the distinct-1/distinct-2 metric of
    Li et al. 2016, standard in generation-quality and corpus-variety
    reports): for each ``source`` stratum and n, the fraction of n-gram
    OCCURRENCES that are distinct —

      (stratum, n, n_total, n_distinct, distinct_ratio)

    A boilerplate-heavy corpus scores low; templated synthetic text
    scores very low. Unlike ``repetition_stats`` (per-document folds)
    this is the CORPUS-level diversity table a dataset card publishes.

    Scale: ONE corpus scan for every n (VERDICT r7 #3 — the per-n loop
    used to rescan the corpus once per n): each doc builds all
    gram lengths as (n, ngram) structs in one narrow ``transform`` +
    ``concat``, a single explode feeds one map-side-combined
    groupBy(stratum, n). Occurrences keep their multiplicity (the
    dedup shingles' per-doc distinct would undercount). When the scan
    yields fewer splits than cores (small files on a big box — the
    sf0.1 bench layout is ONE split), the projected (stratum, text)
    pair is ``spread`` to ``defaultParallelism`` first, so fusing the
    per-n work into one subtree doesn't serialize 3x the CPU onto one
    task; at 100 TB splits >> cores and that is a no-op (no added
    shuffle).
    COUNT(DISTINCT ngram) is corpus-sized state, kept exact so the
    table matches its oracle. Counts are exact integers; the one ratio
    is a single rounded IEEE division.
    """
    base = spread(
        docs.select(F.col("source").alias("stratum"), F.col(TEXT).alias(TEXT))
    )
    toks = TX.tokens(F.lower(F.col(TEXT)))
    arrs = []
    for n in (1, 2, 3):
        if n == 1:
            grams = toks
        else:
            cnt = F.size(toks) - F.lit(n - 1)
            idx = F.when(
                cnt > 0, F.sequence(F.lit(1), cnt)
            ).otherwise(F.array().cast("array<int>"))
            grams = F.transform(
                idx, lambda i: F.array_join(F.slice(toks, i, n), "␟")
            )
        # single-param lambdas only: F.transform invokes them EAGERLY
        # here (so the loop-variable closure is safe), and a second
        # parameter would be bound to the array index
        arrs.append(
            F.transform(
                grams,
                lambda g: F.struct(
                    F.lit(n).cast("long").alias("n"), g.alias("ngram")
                ),
            )
        )
    combined = arrs[0] if len(arrs) == 1 else F.concat(*arrs)
    g = base.select("stratum", F.explode(combined).alias("p")).select(
        "stratum", F.col("p.n").alias("n"), F.col("p.ngram").alias("ngram")
    )
    agg = g.groupBy("stratum", "n").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.countDistinct("ngram").cast("long").alias("n_distinct"),
    )
    return agg.select(
        "stratum",
        "n",
        "n_total",
        "n_distinct",
        F.when(
            F.col("n_total") > 0,
            F.round(
                F.col("n_distinct").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ),
        ).alias("distinct_ratio"),
    )


def tokenizer_fertility(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Per-stratum tokenizer fertility report — the standard
    multilingual-tokenizer health metric (tokens-per-word by language):
    a vocabulary trained on one distribution shreds under-represented
    strata into many more pieces, and this table is how that decision
    gets reviewed. Per ``lang`` value:

      (stratum, n_docs, n_words, n_tokens, n_chars,
       fertility = n_tokens/n_words, chars_per_token = n_chars/n_tokens)

    under the learned ``merges`` (``bpe_train`` output), with the two
    ratios rounded to 6 dp and NULL when their denominator is 0.

    Scale: the encode is ``bpe_encode_counts``' narrow per-doc map
    (the replace chain); the stratum attach is an id-equi join
    (AQE-decided); the only new
    shuffle is the strata-sized groupBy with map-side combine. Sums are
    exact BIGINTs, so the two divisions are single rounded IEEE ops —
    no float-accumulation parity question (the corpus_stats posture).
    """
    enc = bpe_encode_counts(docs, merges)
    base = docs.select(F.col(DOC_ID), F.col("lang").alias("stratum"))
    g = (
        enc.join(base, DOC_ID)
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
    return g.select(
        "stratum",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
                6,
            ),
        ).alias("fertility"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ),
        ).alias("chars_per_token"),
    )


def bpe_vocab(docs: DataFrame, merges: list[tuple[str, str]]) -> list[tuple[str, int]]:
    """Deterministic tokenizer vocabulary for ``bpe_encode_ids``: the
    corpus alphabet (distinct characters of the lowercased whitespace
    tokens, sorted — UTF-8 byte order == code-point order, so Python
    sorted() and SQL ORDER BY agree) takes ids 0..B-1; each learned
    merge symbol takes B + step - 1 in merge order. If a later merge
    reproduces an existing symbol string, the FIRST id wins (ids need
    not be dense — the oracle's MIN(id) GROUP BY symbol mirrors this).

    Scale: the alphabet collect is a distinct over single characters —
    bounded by the script's code-point count, not the corpus."""
    chars = sorted(
        r.c
        for r in docs.select(
            F.explode(
                F.flatten(
                    F.transform(
                        TX.tokens(F.lower(F.col(TEXT))),
                        lambda w: F.split(w, ""),
                    )
                )
            ).alias("c")
        )
        .distinct()
        .collect()
    )
    vocab: dict[str, int] = {c: i for i, c in enumerate(chars)}
    b = len(vocab)
    for step, (s1, s2) in enumerate(merges, start=1):
        vocab.setdefault(s1 + s2, b + step - 1)
    return list(vocab.items())


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """The id-emitting encoder — what a training-data writer actually
    ships: per document the full BPE token-ID SEQUENCE (order
    preserved across words and within words) under the ``bpe_vocab``
    numbering, plus its length. Returns (id, n_tokens, ids_csv) with
    the sequence serialized as a comma-joined string so both engines
    hash the same value (DuckDB/Arrow list renderings differ).

    Same replace chain as ``bpe_encode_counts`` (oracle parity);
    unknown symbols map to -1 (unreachable when the vocab is derived
    from the same corpus).
    """
    sep = _BPE_SEP
    # spread: same rationale as bpe_encode_counts (the vocab
    # derivation aggregates and is unaffected; the per-doc encode map
    # is what needs the cores).

    docs = spread(docs)
    if vocab is None:
        vocab = bpe_vocab(docs, merges)

    def encode(word):
        s = F.concat_ws(
            "",
            F.transform(
                F.split(word, ""),
                lambda c: F.concat(F.lit(sep), c, F.lit(sep)),
            ),
        )
        for s1, s2 in merges:
            s = F.replace(
                s,
                F.lit(f"{sep}{s1}{sep}{sep}{s2}{sep}"),
                F.lit(f"{sep}{s1}{s2}{sep}"),
            )
        return s

    vmap = F.create_map(
        *[lit for sym, vid in vocab for lit in (F.lit(sym), F.lit(vid))]
    )
    toks = TX.tokens(F.lower(F.col(TEXT)))
    staged = _barrier(
        docs,
        F.col(DOC_ID),
        F.transform(toks, encode).alias("ws"),
    )
    ids = F.flatten(
        F.transform(
            F.col("ws"),
            lambda w: F.transform(
                F.split(w.substr(F.lit(2), F.length(w) - 2), sep + sep),
                lambda s: F.coalesce(
                    F.element_at(vmap, s), F.lit(-1)
                ).cast("int"),
            ),
        )
    )
    out = _barrier(staged, F.col(DOC_ID), ids.alias("ids"))
    return out.select(
        DOC_ID,
        F.size("ids").cast("long").alias("n_tokens"),
        F.concat_ws(",", F.transform(F.col("ids"), lambda i: i.cast("string"))).alias(
            "ids_csv"
        ),
    )


def pack_token_ids(docs: DataFrame, budget: int = 2048, n_shards: int = 8) -> DataFrame:
    """The writer-side twin of ``pack_sequences``: where that operator
    emits the pack MANIFEST (doc × sequence token counts), this one
    emits the actual fixed-length training blocks — per (shard,
    seq_id) the concatenated token-ID sequence itself, chunked at
    ``budget`` boundaries in the same deterministic md5 shard/order.
    ``ids`` is any ``array<int>`` column (e.g. ``bpe_encode_ids``
    output via ``split(ids_csv, ',')``); the id stream is identical to
    concatenating every document's ids in pack order and slicing every
    ``budget`` tokens, so a doc straddling a boundary contributes its
    head to one block and its tail to the next. Output: (shard,
    seq_id, n_tokens, ids_csv) — every block holds exactly ``budget``
    ids except each shard's final partial block; csv serialization so
    both engines hash the same value.

    Scale: the running offset is a window sum PARTITIONED BY SHARD
    (no global sort — pick ``n_shards`` ≥ desired parallelism); the
    boundary-straddle step SLICES each doc's array into per-block
    segments (rows stay doc-grained — never a per-token explode); the
    only shuffle is the (shard, seq_id) groupBy whose groups are
    bounded by ``budget`` elements. Within-block assembly orders
    segments by ``sort_array`` over (tok_start, segment) structs —
    tok_start is unique within a block, so the order is total.
    """
    sid = F.col(DOC_ID).cast("string")
    h_sh = F.md5(F.concat_ws(":", sid, F.lit("pack:shard")))
    h_ord = F.md5(F.concat_ws(":", sid, F.lit("pack:ord")))
    # NULL elements are dropped up front so offsets/counts always match
    # the ids actually emitted (concat_ws silently skips NULLs): the
    # docstring's split(ids_csv, ',') composition turns an EMPTY doc's
    # '' into [''] whose int cast is [NULL] — without this filter that
    # phantom 1-token doc would shift every later block boundary in its
    # shard while contributing nothing to the stream.
    clean = F.filter(F.col("ids"), lambda x: x.isNotNull())
    base = docs.select(
        F.col(DOC_ID),
        (F.conv(F.substring(h_sh, 1, 4), 16, 10).cast("int") % n_shards).alias(
            "shard"
        ),
        h_ord.alias("ord"),
        clean.alias("_ids"),
        F.size(clean).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = Window.partitionBy("shard").orderBy("ord", DOC_ID)
    base = base.withColumn("tok_end", F.sum("n_tokens").over(w)).withColumn(
        "tok_start", F.col("tok_end") - F.col("n_tokens")
    )
    first = F.floor(F.col("tok_start") / budget)
    last = F.floor((F.col("tok_end") - 1) / budget)
    seg_start = F.greatest(F.col("tok_start"), F.col("seq_id") * budget)
    seg_end = F.least(F.col("tok_end"), (F.col("seq_id") + 1) * budget)
    segs = (
        base.withColumn("seq_id", F.explode(F.sequence(first, last)))
        .select(
            "shard",
            F.col("seq_id").cast("long").alias("seq_id"),
            F.col("tok_start"),
            F.slice(
                "_ids",
                (seg_start - F.col("tok_start") + 1).cast("int"),
                (seg_end - seg_start).cast("int"),
            ).alias("seg"),
        )
    )
    blocks = segs.groupBy("shard", "seq_id").agg(
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tok_start", "seg"))),
                lambda s: s["seg"],
            )
        ).alias("_ids")
    )
    return blocks.select(
        "shard",
        "seq_id",
        F.size("_ids").cast("long").alias("n_tokens"),
        F.concat_ws(
            ",", F.transform(F.col("_ids"), lambda i: i.cast("string"))
        ).alias("ids_csv"),
    )
