"""Property-based tests (hypothesis): the engine's composite operators
against independent reference implementations in plain Python, over
randomized inputs — catches edge shapes (ties, empty keys, singleton
groups, pathological components) that fixed fixtures miss.

Spark jobs per example are expensive, so each property runs a small
number of GENEROUS examples (wide value ranges, dense tie probability)
rather than hypothesis' default 100."""

from __future__ import annotations

from collections import Counter

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
    asof,
    dedup as DD,
    textops as TO,
)

from .conftest import under_thresholds

import os

_SETTINGS = dict(
    # default 12 generous examples per property (Spark jobs are the
    # cost); SPARK_GRAFT_HYP_EXAMPLES raises it for deep-fuzz passes
    # (r7 ran the battery at 75 before round close)
    max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small key/time domains → dense ties and repeated keys on purpose
_events = st.lists(
    st.tuples(
        st.integers(0, 3),            # user (by key)
        st.integers(0, 50),           # epoch seconds (on key)
        st.integers(-5, 5),           # value
    ),
    min_size=0,
    max_size=25,
)


def _py_asof(left, right):
    """Reference as-of: greatest (on, value) among right rows of the
    same key with on <= l.on — the documented tie-break."""
    out = []
    for by, on in left:
        cands = [(r_on, v) for r_by, r_on, v in right if r_by == by and r_on <= on]
        best = max(cands) if cands else (None, None)
        out.append((by, on, best[0], best[1]))
    return sorted(out)


@given(left=_events, right=_events, bucket=st.sampled_from([1, 7, 1000]))
@settings(**_SETTINGS)
def test_asof_variants_match_reference(spark, left, right, bucket):
    ldf = spark.createDataFrame(
        [(b, o) for b, o, _ in left] or [(0, 0)], "user_id int, epoch int"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"))
    rdf = spark.createDataFrame(
        right or [(99, 0, 0)], "user_id int, epoch int, value int"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"), "value")

    expected = _py_asof(
        [(b, o) for b, o, _ in left] or [(0, 0)],
        right or [(99, 0, 0)],
    )
    for fn in (
        lambda l, r: asof.asof_join(l, r, on="ts", by="user_id", value_cols=["value"]),
        lambda l, r: asof.asof_join_bucketed(
            l, r, on="ts", by="user_id", value_cols=["value"], bucket_seconds=bucket
        ),
    ):
        got = sorted(
            (
                r.user_id,
                int(r.ts.timestamp()),
                int(r.ts_asof.timestamp()) if r.ts_asof else None,
                r.value_asof,
            )
            for r in fn(ldf, rdf).collect()
        )
        assert got == expected, f"{fn} bucket={bucket}"


_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
    min_size=0,
    max_size=15,
)


def _py_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@given(edges=_edges)
@settings(**_SETTINGS)
def test_dedup_clusters_matches_union_find(spark, edges):
    nodes = sorted({0, 9} | {n for e in edges for n in e})
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(0, 0)],
        "id_a long, id_b long",
    )
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    got = {r.id: r.cluster_id for r in DD.dedup_clusters(pairs, nodes=ndf).collect()}
    assert got == _py_components([(a, b) for a, b in edges], nodes)


_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=30), min_size=1, max_size=8
)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_repetition_fold_matches_counting(spark, texts):
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in TO.repetition_stats(docs).collect()}
    for i, text in enumerate(texts):
        toks = [t for t in text.lower().split() if t]
        bgs = [f"{a}␞{b}" for a, b in zip(toks, toks[1:])]
        r = got[i]
        assert r.n_tokens == len(toks) and r.n_bigrams == len(bgs)
        if toks:
            assert r.top_unigram_frac == round(
                max(Counter(toks).values()) / len(toks), 6
            )
        else:
            assert r.top_unigram_frac is None
        if bgs:
            c = Counter(bgs)
            assert r.top_bigram_frac == round(max(c.values()) / len(bgs), 6)
            dup = sum(v for v in c.values() if v >= 2)
            assert r.dup_bigram_frac == round(dup / len(bgs), 6)
        else:
            assert r.top_bigram_frac is None and r.dup_bigram_frac is None


# --- sequence packing vs a sequential reference implementation ----------

_pack_docs = st.lists(
    st.tuples(
        st.integers(0, 60),                     # doc_id (dupes dropped below)
        st.integers(0, 9),                      # token count (0 = filtered)
    ),
    min_size=0,
    max_size=30,
)


@settings(**_SETTINGS)
@given(docs=_pack_docs, budget=st.integers(2, 12))
def test_pack_sequences_matches_sequential_reference(spark, docs, budget):
    """The distributed window/explode packing must equal a plain
    sequential walk over the same md5 order: same shard/seq assignment,
    same per-sequence token contributions."""
    import hashlib

    uniq = {d: n for d, n in docs}
    rows = [(d, " ".join(["w"] * n) if n else "") for d, n in uniq.items()]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.shard, r.seq_id, r.doc_id, r.tok_in_seq, r.n_tokens)
        for r in TO.pack_sequences(df, budget=budget, n_shards=3).collect()
    )

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    want = []
    per_shard = {}
    for d, n in uniq.items():
        if n == 0:
            continue
        shard = int(md5(f"{d}:pack:shard")[:4], 16) % 3
        per_shard.setdefault(shard, []).append((md5(f"{d}:pack:ord"), d, n))
    for shard, members in per_shard.items():
        off = 0
        for _, d, n in sorted(members):
            start, end = off, off + n
            for seq in range(start // budget, (end - 1) // budget + 1):
                want.append(
                    (shard, seq, d,
                     min(end, (seq + 1) * budget) - max(start, seq * budget), n)
                )
            off = end
    assert got == sorted(want)


_docs_texts = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=30),
    min_size=0,
    max_size=12,
)


@given(texts=_docs_texts)
@settings(**_SETTINGS)
def test_global_shuffle_is_a_permutation(spark, texts):
    """global_shuffle emits every id exactly once, positions are
    contiguous 0..n-1 within each shard, and the assignment is a pure
    function of the id (layout-invariant: a repartitioned input gives
    the identical rows)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    if not rows:
        return
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = TO.global_shuffle(docs, n_shards=4).collect()
    assert Counter(r.doc_id for r in out) == Counter(i for i, _ in rows)
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))
    again = TO.global_shuffle(docs.repartition(7), n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


@given(texts=st.lists(st.sampled_from(
    ["x y", "x y\nz w", "z w\nx y", "a b\na b", ""]), min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_line_dedup_matches_sequential_reference(spark, texts):
    """line_dedup == a sequential first-occurrence scan over
    (doc_id, idx) order, including intra-document duplicates and empty
    lines."""
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TO.line_dedup(docs).collect()}
    seen: set[str] = set()
    for i, t in rows:
        lines = t.split("\n")
        kept = []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        r = got[i]
        assert r.n_lines == len(lines)
        assert r.n_kept == len(kept)
        assert r.text == "\n".join(kept)


@given(texts=st.lists(st.text(alphabet="abc ", min_size=1, max_size=16),
                      min_size=1, max_size=10))
@settings(**_SETTINGS)
def test_bpe_train_matches_sequential_reference(spark, texts):
    """bpe_train == a sequential reference BPE (word-frequency dict,
    greedy left-to-right merges, count-then-lexicographic tie-break)
    on random corpora."""
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.step, r.lhs, r.rhs, r.pair_count)
        for r in TO.bpe_train(docs, n_merges=4).collect()
    ]

    wf = Counter(w for _, t in rows for w in t.lower().split() if w)
    words = {w: list(w) for w in wf}
    expected = []
    for step in range(1, 5):
        pairs: Counter = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wf[w]
        if not pairs:
            break
        (s1, s2), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, s1, s2, c))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    assert got == expected


def _bpe_seq_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """One word through the merge list applied in order, each merge a
    greedy left-to-right non-overlapping pass: the sequential reference
    the BPE encoders must match (the same loop the train property test
    trusts)."""
    syms = list(word)
    for s1, s2 in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                out.append(s1 + s2)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _bpe_counts_reference(text: str, merges: list[tuple[str, str]]):
    """(n_words, n_chars, n_bpe_tokens) of ``bpe_encode_counts`` for one
    document, from ``_bpe_seq_encode``."""
    words = text.lower().split()
    return (
        len(words),
        sum(len(w) for w in words),
        sum(len(_bpe_seq_encode(w, merges)) for w in words),
    )


@given(
    texts=st.lists(st.text(alphabet="abc ", min_size=1, max_size=20),
                   min_size=1, max_size=8),
    n_merges=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_bpe_encode_arms_agree(spark, texts, n_merges):
    """bpe_encode_counts' replace chain == the sequential Python
    reference on random corpora with merges trained on the same corpus:
    word, char and BPE-token counts per document, and the rounded
    chars-per-token ratio (NULL on a document with no tokens)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [
        (r.lhs, r.rhs) for r in TO.bpe_train(docs, n_merges=n_merges).collect()
    ]
    got = {r.doc_id: r for r in TO.bpe_encode_counts(docs, merges).collect()}
    assert sorted(got) == [i for i, _ in rows]
    for i, t in rows:
        r = got[i]
        n_words, n_chars, n_toks = _bpe_counts_reference(t, merges)
        assert (r.n_words, r.n_chars, r.n_bpe_tokens) == (n_words, n_chars, n_toks)
        # F.round's HALF_UP on the double ratio; NULL when 0 tokens
        want = _r6(n_chars / n_toks) if n_toks else None
        assert r.chars_per_token == want


def test_bpe_encode_rank_resurrection(spark):
    """merges=[("a","bc"),("b","c")] on "abc": applying rank 1 creates
    the pair of rank 0, which the sequential chain can never revisit. A
    naive min-rank loop would collapse "abc" to ONE token; the encoder
    must yield TWO."""
    docs = spark.createDataFrame(
        [(0, "abc"), (1, "abc bc a b c")], "doc_id long, text string"
    )
    merges = [("a", "bc"), ("b", "c")]
    got = {r.doc_id: r for r in TO.bpe_encode_counts(docs, merges).collect()}
    assert got[0].n_bpe_tokens == 2  # (a)(bc), NOT (abc)
    assert got[1].n_bpe_tokens == _bpe_counts_reference("abc bc a b c", merges)[2]


@given(
    texts=st.lists(st.text(alphabet="abc ", min_size=1, max_size=20),
                   min_size=1, max_size=8),
    n_merges=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_bpe_encode_ids_arms_agree_and_match_reference(spark, texts, n_merges):
    """bpe_encode_ids' emitted id sequence equals a sequential Python
    reference on random corpora: tokenize → per-word sequential merge
    application → lookup in the bpe_vocab numbering. This pins the
    ORDER of the sequence, which the counts encoder never checks."""
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [
        (r.lhs, r.rhs) for r in TO.bpe_train(docs, n_merges=n_merges).collect()
    ]
    vocab = dict(TO.bpe_vocab(docs, merges))
    got = {r.doc_id: tuple(r) for r in TO.bpe_encode_ids(docs, merges).collect()}
    for i, t in rows:
        ids = [vocab[s] for w in t.lower().split() for s in _bpe_seq_encode(w, merges)]
        assert got[i] == (i, len(ids), ",".join(map(str, ids)))


def test_bpe_vocab_first_id_wins_on_duplicate_symbol(spark):
    """If a later merge reproduces an existing symbol string, bpe_vocab
    keeps the FIRST id (the oracle's MIN(id) GROUP BY sym). Forced
    merges=[("a","b"),("ab",""?)] can't collide, so use a corpus where
    ("a","b") then ("ab","c") and a separate ("a","bc") would both
    spell "abc" — the ids list stays unique per symbol."""
    docs = spark.createDataFrame(
        [(0, "abc abc ab bc a b c")], "doc_id long, text string"
    )
    merges = [("a", "b"), ("b", "c"), ("ab", "c"), ("a", "bc")]
    vocab = TO.bpe_vocab(docs, merges)
    syms = [s for s, _ in vocab]
    assert len(syms) == len(set(syms))
    vm = dict(vocab)
    # alphabet a,b,c -> 0,1,2; merge steps 1..4 -> ids 3..6; "abc" is
    # spelled twice (steps 3 and 4) and keeps the step-3 id.
    assert vm["ab"] == 3 and vm["bc"] == 4 and vm["abc"] == 5
    assert 6 not in vm.values()


@given(
    docs_ids=st.lists(
        st.lists(st.integers(0, 99), min_size=0, max_size=17),
        min_size=1, max_size=10,
    ),
    budget=st.integers(min_value=1, max_value=7),
    n_shards=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_pack_token_ids_matches_reference(spark, docs_ids, budget, n_shards):
    """pack_token_ids == a sequential reference: per shard, concatenate
    every doc's ids in the deterministic (md5 ord, id) order and chunk
    the stream every ``budget`` tokens. Checks the BLOCK CONTENT (the
    actual id stream), not just the counts the pack_sequences manifest
    covers."""
    import hashlib

    rows = [(i, ids) for i, ids in enumerate(docs_ids)]
    docs = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    got = {
        (r.shard, r.seq_id): (r.n_tokens, r.ids_csv)
        for r in TO.pack_token_ids(
            docs, budget=budget, n_shards=n_shards
        ).collect()
    }

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    streams: dict[int, list[int]] = {}
    order = sorted(
        (r for r in rows if r[1]),
        key=lambda r: (md5(f"{r[0]}:pack:ord"), r[0]),
    )
    for i, ids in order:
        shard = int(md5(f"{i}:pack:shard")[:4], 16) % n_shards
        streams.setdefault(shard, []).extend(ids)
    expected = {}
    for shard, stream in streams.items():
        for s in range(0, (len(stream) + budget - 1) // budget):
            blk = stream[s * budget : (s + 1) * budget]
            expected[(shard, s)] = (len(blk), ",".join(map(str, blk)))
    assert got == expected


def test_pack_token_ids_over_bpe_ids(spark):
    """The composition the operators exist for: bpe_encode_ids' csv
    output feeds pack_token_ids unchanged (split back to array<int>),
    and each shard's reassembled block stream equals the concatenation
    of the per-doc id sequences in pack order — no ids lost, reordered,
    or duplicated across block boundaries."""
    import hashlib

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lower lowest", "new newer newest", "wide wider widest",
             "low new wide", "er est low"] * 3
        )],
        "doc_id long, text string",
    )
    merges = [(r.lhs, r.rhs) for r in TO.bpe_train(docs, n_merges=6).collect()]
    enc = TO.bpe_encode_ids(docs, merges)
    with_ids = enc.select(
        "doc_id",
        F.transform(F.split("ids_csv", ","), lambda x: x.cast("int")).alias("ids"),
    )
    blocks = TO.pack_token_ids(with_ids, budget=5, n_shards=2).collect()

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    doc_ids = {r.doc_id: [int(x) for x in r.ids_csv.split(",")] for r in enc.collect()}
    streams: dict[int, list[int]] = {}
    for i in sorted(doc_ids, key=lambda i: (md5(f"{i}:pack:ord"), i)):
        shard = int(md5(f"{i}:pack:shard")[:4], 16) % 2
        streams.setdefault(shard, []).extend(doc_ids[i])
    for shard, stream in streams.items():
        got = [
            int(x)
            for r in sorted((b for b in blocks if b.shard == shard),
                            key=lambda b: b.seq_id)
            for x in r.ids_csv.split(",")
        ]
        assert got == stream


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=25),
                   min_size=1, max_size=8),
    k=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_remove_duplicated_spans_matches_reference(spark, texts, k):
    """remove_duplicated_spans == a sequential reference: first
    occurrence (min (id, start)) of each duplicated k-shingle survives,
    every other occurrence's [start, start+k-1] span is cut, survivors
    rejoin with single spaces. The tiny 'ab ' alphabet makes duplicated
    and OVERLAPPING spans dense — the interval-union/gaps-and-islands
    machinery gets exercised on every example."""
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.removed_tokens,
                   r.removed_frac, r.cleaned_text)
        for r in DD.remove_duplicated_spans(docs, k=k).collect()
    }

    toks = {i: [w for w in t.lower().split() if w] for i, t in rows}
    occ: dict[tuple, list] = {}
    for i in sorted(toks):
        ts = toks[i]
        for s in range(len(ts) - k + 1):
            occ.setdefault(tuple(ts[s : s + k]), []).append((i, s))
    cut: dict[int, set] = {i: set() for i in toks}
    for sites in occ.values():
        if len(sites) > 1:
            for i, s in sorted(sites)[1:]:
                cut[i].update(range(s, s + k))
    for i, ts in toks.items():
        kept = [w for p, w in enumerate(ts) if p not in cut[i]]
        n = len(ts)
        frac = round((n - len(kept)) / n, 6) if n else 0.0
        assert got[i] == (n, len(kept), n - len(kept), frac, " ".join(kept)), i


@given(
    texts=st.lists(st.text(alphabet="abc ", min_size=1, max_size=20),
                   min_size=1, max_size=8),
    n_merges=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_bpe_train_arms_agree(spark, texts, n_merges):
    """bpe_train's driver arm (collected word table, sequential) ==
    the distributed per-round schedule, including tie-breaks and early
    stop — the guarantee that lets auto-dispatch pick by vocabulary
    size."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # the default bound keeps these vocabularies on the driver; a
    # negative one routes every vocabulary to the distributed schedule
    drv, dist = under_thresholds(
        TO, "MAX_DRIVER_WORDS", (TO.MAX_DRIVER_WORDS, -1),
        lambda: [tuple(r) for r in TO.bpe_train(docs, n_merges=n_merges).collect()],
    )
    assert drv == dist


def _bpe_train_reference(
    rows: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Sequential BPE over a (word, count) table — greedy, tie-break
    count DESC then pair lexicographic ASC. One pass per merge over the
    vocabulary dict: the plain reference the incremental trainer must
    match."""
    words: dict[str, list[str]] = {w: list(w) for w, _ in rows}
    freq = {w: c for w, c in rows}
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            c = freq[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (s1, s2), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, s1, s2, s1 + s2, c))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


@given(
    words=st.lists(
        st.tuples(
            st.text(alphabet="abcd", min_size=1, max_size=12),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    n_merges=st.sampled_from([10, 1000]),
)
@settings(**_SETTINGS)
def test_bpe_incremental_trainer_matches_reference(words, n_merges):
    """VERDICT r7 #8: the incremental pair-count trainer (delta counts,
    lazy max-heap, inverted pair index — the production driver arm) ==
    the plain one-pass-per-merge reference, merge-for-merge, at 10 AND
    1000 requested merges (1000 always exhausts these vocabularies, so
    the early-stop path and every stale-heap/stale-index branch run).
    Adversarial shapes included by generation: repeated-letter words
    ('aaaa' — overlapping pair occurrences), ties at every count, and
    pairs that vanish and REAPPEAR at lower counts after intermediate
    merges (the stale-entry case the lazy heap must discard)."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.textops import (
        _bpe_train_incremental,
    )

    assert _bpe_train_incremental(words, n_merges) == _bpe_train_reference(
        words, n_merges
    )


def _r6(x: float, places: int = 6) -> float:
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.similarity import (
        _round_half_up,
    )

    return _round_half_up(x, places)


@given(
    texts=st.lists(st.text(alphabet="ab c", min_size=0, max_size=24),
                   min_size=1, max_size=10),
    n_buckets=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_perplexity_buckets_matches_reference(spark, texts, n_buckets):
    """perplexity_buckets == a sequential reference: pure-Python
    interpolated bigram LM, HALF_UP rounding, and the histogram
    ceil-division tier rule — including the drop of sub-bigram docs
    and value-tied docs sharing a tier."""
    import math
    import re

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.avg_nll, r.q_nll, r.bucket, r.label)
        for r in TO.perplexity_buckets(docs, n_buckets=n_buckets).collect()
    }

    toks = {
        i: [t for t in re.split(r"\s+", t0.lower()) if t]
        for i, t0 in enumerate(texts)
    }
    uni = Counter(t for ts in toks.values() for t in ts)
    total = sum(uni.values())
    bc = Counter(p for ts in toks.values() for p in zip(ts, ts[1:]))
    ctx = Counter()
    for (a, _), c in bc.items():
        ctx[a] += c
    scored = {}
    for i, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            continue  # sub-bigram docs drop
        lp = _r6(
            sum(
                math.log(
                    0.7 * (bc[p] / ctx[p[0]])
                    + (1.0 - 0.7) * (uni[p[1]] / total)
                )
                for p in pairs
            )
            / len(pairs)
        )
        scored[i] = (len(pairs), _r6(0.0 - lp), _r6(0.0 - lp, 3))
    n_total = len(scored)
    hist = Counter(v[2] for v in scored.values())
    cum, bucket_of = 0, {}
    for q in sorted(hist):
        cum += hist[q]
        bucket_of[q] = (cum * n_buckets + n_total - 1) // n_total
    want = {}
    for i, (nb, nll, q) in scored.items():
        b = bucket_of[q]
        lbl = "head" if b == 1 else ("tail" if b == n_buckets else "middle")
        want[i] = (nb, nll, q, b, lbl)
    assert got == want


def test_hybrid_rrf_matches_arm_fusion(spark):
    """hybrid_rrf_topk == fusing its two arms' collected rank lists in
    plain Python — full-outer semantics (single-arm docs score one
    term), the 1/(k_rrf+rank) sum, round-6, and the (rrf DESC, doc_id)
    tie-break."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        similarity as SIM,
    )

    docs = spark.createDataFrame(
        [
            (0, "hash join table scan"),
            (1, "sort merge join"),
            (2, "window agg group"),
            (3, "hash hash hash join"),
            (4, "totally unrelated words"),
            (5, "table table scan scan"),
        ],
        "doc_id long, text string",
    )
    vecs = [
        (0, [1.0, 0.0, 0.2]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.1]),
        (3, [0.1, 0.9, 0.0]),
        (4, [0.5, 0.5, 0.5]),
        (5, [0.0, 0.1, 1.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = [(1, "hash join"), (2, "group agg")]

    k, arm_k, k_rrf = 4, 3, 60
    got = [
        tuple(r)
        for r in TO.hybrid_rrf_topk(docs, emb, queries, k=k, arm_k=arm_k)
        .orderBy("query_id", "rank")
        .collect()
    ]

    lex = {
        (r.query_id, r.doc_id): r.rank
        for r in TO.bm25_topk(docs, queries, k=arm_k).collect()
    }
    qv = emb.filter(F.col("vec_id").isin([q for q, _ in queries]))
    dense = {
        (r.query_id, r.neighbor_id): r.rank
        for r in SIM.brute_force_topk(qv, emb, k=arm_k).collect()
    }
    want = []
    for qid in {q for q, _ in queries}:
        cands = {d for (q2, d) in list(lex) + list(dense) if q2 == qid}
        fused = []
        for d in cands:
            lr, dr = lex.get((qid, d)), dense.get((qid, d))
            rrf = _r6(
                (1.0 / (k_rrf + lr) if lr is not None else 0.0)
                + (1.0 / (k_rrf + dr) if dr is not None else 0.0)
            )
            fused.append((rrf, d, lr, dr))
        fused.sort(key=lambda t: (-t[0], t[1]))
        for rank, (rrf, d, lr, dr) in enumerate(fused[:k], start=1):
            want.append((qid, d, lr, dr, rrf, rank))
    want.sort(key=lambda t: (t[0], t[5]))
    assert got == want
    # both single-arm and both-arm docs must actually occur in the
    # fixture, or the full-outer surface went untested
    assert any(lr is None or dr is None for (_, _, lr, dr, _, _) in got)
    assert any(lr is not None and dr is not None for (_, _, lr, dr, _, _) in got)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 40), st.sampled_from(["a", "b", "c", "d"])),
        min_size=0, max_size=30, unique_by=lambda t: t[0],
    ),
    alpha=st.sampled_from([0.0, 0.5, 1.0]),
)
@settings(**_SETTINGS)
def test_temperature_mixture_matches_reference(spark, rows, alpha):
    """temperature_mixture == a sequential reference: the
    (n_max/n)^alpha weight derivation (sqrt at 0.5), 6-dp HALF_UP,
    and mixture_resample's floor+Bernoulli copy rule replayed on the
    same md5-hex uniform."""
    import hashlib
    import math

    docs = spark.createDataFrame(
        rows or [(999_999, "a")], "doc_id long, lang string"
    )
    data = rows or [(999_999, "a")]
    got = sorted(
        tuple(r)
        for r in TO.temperature_mixture(docs, "lang", alpha=alpha).collect()
    )

    counts = Counter(s for _, s in data)
    n_max = max(counts.values())
    weights = {
        s: _r6(math.sqrt(n_max / n) if alpha == 0.5 else (n_max / n) ** alpha)
        for s, n in counts.items()
    }
    want = []
    for i, s in data:
        w = weights[s]
        whole = int(w)
        frac = int(round((w - whole) * 1_000_000))
        h = hashlib.md5(f"{i}:mix".encode()).hexdigest()
        u = int(h[:8], 16) % 1_000_000
        n = whole + (1 if u < frac else 0)
        for c in range(1, n + 1):
            want.append((i, s, w, c))
    assert got == sorted(want)
    # alpha=0 must be the identity mixture (w == 1.0 for every stratum)
    if alpha == 0.0:
        assert all(w == 1.0 for (_, _, w, _) in got)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 5)),
        min_size=1, max_size=20, unique_by=lambda t: t[0],
    ),
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=0, max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_keep_best_matches_reference(spark, rows, edges):
    """keep_best == per-component argmax(score, tie -> min id) over a
    sequential union-find of the pairs — including whole-cluster ties
    and every doc with no near-duplicate, which must survive as its own
    singleton — and each kept doc carries its component's minimum id as
    cluster_id."""
    ids = {i for i, _ in rows}
    edges = [(a, b) for a, b in edges if a != b and a in ids and b in ids]
    docs = spark.createDataFrame(rows, "doc_id long, score long")
    if edges:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    else:
        pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = sorted(
        (r.doc_id, r.cluster_id) for r in DD.keep_best(docs, pairs, "score").collect()
    )

    comp = _py_components(edges, sorted(ids))
    score = dict(rows)
    by_cluster = {}
    for i, c in comp.items():
        by_cluster.setdefault(c, []).append(i)
    want = {
        (min(members, key=lambda i: (-score[i], i)), c)
        for c, members in by_cluster.items()
    }
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 40),          # doc id
            st.integers(-30, 0),         # score x10 (dense ties)
            st.integers(0, 50),          # tokens
        ),
        min_size=0, max_size=25, unique_by=lambda t: t[0],
    ),
    budget=st.sampled_from([0, 10, 60, 100_000]),
)
@settings(**_SETTINGS)
def test_budget_select_matches_reference(spark, rows, budget):
    """budget_select == a sequential reference: quantize, walk score
    values descending accumulating token sums, keep values whose
    bucket starts inside the budget (the straddling value stays whole)
    — all-or-nothing per value, zero-token docs ride their value."""
    docs = spark.createDataFrame(
        [(i, s / 10.0, t) for i, s, t in rows],
        "doc_id long, score double, n_tokens long",
    )
    got = sorted(
        tuple(r)
        for r in TO.budget_select(docs, budget).collect()
    )

    qrows = [(i, t, _r6(s / 10.0, 3)) for i, s, t in rows]
    hist = {}
    for _, t, q in qrows:
        hist[q] = hist.get(q, 0) + t
    cum, keep = 0, set()
    for q in sorted(hist, reverse=True):
        start = cum
        cum += hist[q]
        if start < budget:
            keep.add(q)
    want = sorted((i, t, q) for i, t, q in qrows if q in keep)
    assert got == want


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=30),
                   min_size=1, max_size=12),
    n=st.integers(min_value=1, max_value=3),
    step=st.integers(min_value=2, max_value=4),
)
@settings(**_SETTINGS)
def test_contamination_report_matches_reference(spark, texts, n, step):
    """contamination_report == a sequential reference over random
    corpora: distinct-shingle hit counts, 0/0-guarded overlap
    fraction, and (max shared shingles, min eval id) attribution —
    eval set = every ``step``-th doc, so self-hits and multi-eval
    ties are dense."""
    import re

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ev = docs.filter(F.col("doc_id") % step == 0)
    got = {
        r.doc_id: (r.n_shingles, r.n_hits, r.overlap_frac,
                   r.top_eval_id, r.top_eval_hits)
        for r in TO.contamination_report(docs, ev, n=n).collect()
    }

    def shingles(t):
        toks = [w for w in re.split(r"\s+", t.lower()) if w]
        return {"␟".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sh = {i: shingles(t) for i, t in enumerate(texts)}
    eval_ids = [i for i in sh if i % step == 0]
    ev_all = set().union(*(sh[e] for e in eval_ids)) if eval_ids else set()
    want = {}
    for i, s in sh.items():
        hits = s & ev_all
        per_eval = {e: len(s & sh[e]) for e in eval_ids if s & sh[e]}
        if per_eval:
            top = min(per_eval, key=lambda e: (-per_eval[e], e))
            top_id, top_hits = top, per_eval[top]
        else:
            top_id, top_hits = None, None
        frac = _r6(len(hits) / len(s)) if s else 0.0
        want[i] = (len(s), len(hits), frac, top_id, top_hits)
    assert got == want


def test_keep_best_null_scores_rank_worst(spark):
    """A NULL-score member must never beat a scored member (struct
    ordering would otherwise sort the NULL field first), and an
    all-NULL cluster keeps its min-id member instead of vanishing."""
    docs = spark.createDataFrame(
        [(1, 5), (2, None), (3, None), (4, None)],
        "doc_id long, score int",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in DD.keep_best(docs, pairs, "score").collect())
    # cluster {1,2}: scored doc 1 beats NULL doc 2; cluster {3,4}:
    # all-NULL -> min id 3
    assert kept == [1, 3]


def test_temperature_mixture_null_stratum_drops(spark):
    """Rows with a NULL stratum drop (the absent-strata semantics)
    instead of crashing the driver-side weight fold."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "doc_id long, lang string"
    )
    got = sorted(r.doc_id for r in TO.temperature_mixture(docs, "lang").collect())
    assert got == [1, 3]


@given(
    texts=st.lists(st.text(alphabet="abc ", min_size=0, max_size=25),
                   min_size=1, max_size=12),
    v=st.integers(min_value=1, max_value=5),
)
@settings(**_SETTINGS)
def test_oov_rate_matches_reference(spark, texts, v):
    """oov_rate == a sequential reference: (freq DESC, token ASC)
    vocabulary cut — including ties spanning the cut boundary — and
    per-doc OOV counting with the 0-token guard."""
    import re

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_frac)
        for r in TO.oov_rate(docs, vocab_size=v).collect()
    }

    toks = {i: [w for w in re.split(r"\s+", t.lower()) if w]
            for i, t in enumerate(texts)}
    freq = Counter(w for ts in toks.values() for w in ts)
    vocab = set(sorted(freq, key=lambda t: (-freq[t], t))[:v])
    want = {}
    for i, ts in toks.items():
        n_oov = sum(1 for w in ts if w not in vocab)
        frac = _r6(n_oov / len(ts)) if ts else 0.0
        want[i] = (len(ts), n_oov, frac)
    assert got == want


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=25),
                   min_size=1, max_size=10),
    extra_pairs=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=5
    ),
    n=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_verify_pairs_matches_reference(spark, texts, extra_pairs, n):
    """verify_pairs == exact shingle Jaccard computed sequentially for
    ARBITRARY input pairs — including pairs whose sides share nothing
    (ovl 0), sub-n-gram docs (empty shingle sets, 0/0 -> 0.0), and
    the >= threshold verdict on the rounded value."""
    import re

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    prs = sorted(
        {(min(a, b), max(a, b)) for a, b in extra_pairs
         if a != b and a < len(texts) and b < len(texts)}
    )
    if not prs:
        prs = [(0, 0)]  # degenerate but schema-valid self-pair
    pairs = spark.createDataFrame(prs, "id_a long, id_b long")
    got = sorted(
        tuple(r)
        for r in DD.verify_pairs(docs, pairs, threshold=0.5, shingle_n=n).collect()
    )

    def sh(t):
        toks = [w for w in re.split(r"\s+", t.lower()) if w]
        return {"␟".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    s = {i: sh(t) for i, t in enumerate(texts)}
    want = []
    for a, b in prs:
        ovl = len(s[a] & s[b])
        denom = len(s[a]) + len(s[b]) - ovl
        jac = _r6(ovl / denom) if denom > 0 else 0.0
        want.append((a, b, ovl, jac, int(jac >= 0.5)))
    assert got == sorted(want)


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=25),
                   min_size=1, max_size=12),
    split=st.integers(min_value=0, max_value=12),
)
@settings(**_SETTINGS)
def test_minhash_delta_equals_filtered_whole_corpus(spark, texts, split):
    """minhash_lsh_pairs_delta(new, existing) == the whole-corpus
    banded candidates minus both-existing pairs — for every split
    point, including all-new and all-existing batches."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    split = min(split, len(texts))
    new = docs.filter(F.col("doc_id") >= split)
    old = docs.filter(F.col("doc_id") < split)
    got = sorted(
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs_delta(
            new, old, num_hashes=4, bands=2, shingle_n=1
        ).collect()
    )
    DD.release_dedup_caches()
    whole = sorted(
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(
            docs, num_hashes=4, bands=2, shingle_n=1
        ).collect()
        if not (r.id_a < split and r.id_b < split)
    )
    DD.release_dedup_caches()
    assert got == whole


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=20),
                   min_size=2, max_size=14),
    split=st.integers(min_value=0, max_value=14),
    m_bits=st.sampled_from([64, 128, 1024]),
    k=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_bloom_dedup_matches_reference(spark, texts, split, m_bits, k):
    """bloom_dedup == a plain-Python Bloom filter built
    with the same md5 position derivation — over corpora dense with
    exact duplicates, every split point (all-new / all-existing
    included), tiny filters (guaranteed collisions), and k up to 4.
    Also re-asserts the structural guarantees: no false negatives,
    n_hit counts hash slots."""
    import hashlib

    split = min(split, len(texts))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    new = docs.filter(F.col("doc_id") >= split)
    existing = docs.filter(F.col("doc_id") < split)

    def positions(text: str) -> list[int]:
        h = hashlib.md5(text.encode()).hexdigest()
        return [
            int(hashlib.md5(f"{h}:{i}".encode()).hexdigest()[:15], 16) % m_bits
            for i in range(k)
        ]

    seen_hashes = {
        hashlib.md5(t.encode()).hexdigest() for t in texts[:split]
    }
    bits = {p for t in texts[:split] for p in positions(t)}
    want = {}
    for i, t in enumerate(texts[i] for i in range(split, len(texts))):
        doc_id = split + i
        n_hit = sum(1 for p in positions(t) if p in bits)
        maybe = 1 if n_hit == k else 0
        exact = 1 if hashlib.md5(t.encode()).hexdigest() in seen_hashes else 0
        want[doc_id] = (n_hit, maybe, exact, maybe * (1 - exact))
        assert not (exact and not maybe)  # reference sanity: Bloom law

    got = {
        r.doc_id: (r.n_hit, r.maybe_dup, r.exact_dup, r.false_positive)
        for r in DD.bloom_dedup(new, existing, m_bits=m_bits, k=k).collect()
    }
    assert got == want


@given(
    texts=st.lists(st.text(alphabet="abc !?", min_size=0, max_size=30),
                   min_size=1, max_size=12),
    dim=st.sampled_from([1, 16, 257]),
    bias=st.integers(min_value=-70000, max_value=70000),
)
@settings(**_SETTINGS)
def test_hashed_linear_score_matches_reference(spark, texts, dim, bias):
    """hashed_linear_score == a plain-Python rescore with hashlib md5
    buckets/weights and exact integer sums — over empty docs, dim=1
    (every token one bucket), non-power-of-two dims, and biases that
    cross the label threshold either way."""
    import hashlib

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.textops import (
        WEIGHT_SCALE,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.logit, r.label)
        for r in TO.hashed_linear_score(docs, dim=dim, bias=bias).collect()
    }

    import re

    want = {}
    for i, t in enumerate(texts):
        toks = [w for w in re.split(r"\s+", t.lower()) if w]
        ls = bias
        for w in toks:
            b = int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % dim
            u = int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:8], 16)
            ls += u % (2 * WEIGHT_SCALE + 1) - WEIGHT_SCALE
        want[i] = (len(toks), _r6(ls / WEIGHT_SCALE), 1 if ls > 0 else 0)
    assert got == want


@given(
    n_vecs=st.integers(min_value=1, max_value=24),
    n_cells=st.integers(min_value=1, max_value=5),
    per_cell=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=10**6),
)
@settings(**_SETTINGS)
def test_cluster_sample_selection_matches_reference(
    spark, n_vecs, n_cells, per_cell, seed
):
    """Given the operator's OWN quantizer output (ivf_assign is
    oracle-pinned elsewhere), the two-phase per-cell top-B must equal a
    plain-Python selection: rank members by (squared L2 to their
    centroid, id), keep per_cell per cell, emit rounded sqrt distances
    — duplicate vectors, cells smaller than per_cell, and n_cells >
    n_vecs included."""
    import hashlib

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        similarity as SIM,
    )

    dim = 4
    # deterministic pseudo-random vectors (md5 of (seed, i, j)) with a
    # dash of exact duplicates
    def vec(i: int) -> list[float]:
        j = i % max(1, n_vecs - 2)  # force duplicate vectors sometimes
        return [
            (int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:6], 16)
             % 1000) / 250.0
            for d in range(dim)
        ]

    rows = [(i, vec(i)) for i in range(n_vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.vec_id, r.cell, r.dist, r.rank)
        for r in SIM.cluster_sample(
            emb, dim=dim, n_cells=n_cells, per_cell=per_cell,
        ).collect()
    )

    assigned, cents = SIM.ivf_assign(
        emb, dim, n_centroids=n_cells
    )
    cmap = {r.cell: list(r.cvec) for r in cents.collect()}
    members = [(r.id, list(r.v), r.cell) for r in assigned.collect()]
    DD.release_dedup_caches()

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    want = []
    for cell in sorted({c for _, _, c in members}):
        ms = [(d2(v, cmap[cell]), i) for i, v, c in members if c == cell]
        ms.sort()
        for rank, (dd, i) in enumerate(ms[:per_cell], start=1):
            import math

            want.append((i, cell, _r6(math.sqrt(dd)), rank))
    assert got == sorted(want)


# --- funnel / retention / kmeans-quality ------------------------------------

_funnel_events = st.lists(
    st.tuples(
        st.integers(0, 3),                      # user
        st.integers(0, 50),                     # epoch seconds
        st.sampled_from(["a", "b", "c", "x"]),  # step types + noise
    ),
    min_size=0,
    max_size=30,
)


@given(events=_funnel_events, horizon=st.sampled_from([5, 20, 1000]))
@settings(**_SETTINGS)
def test_funnel_matches_reference(spark, events, horizon):
    """funnel_steps against a sequential reference: first-touch anchor,
    ordered completion (each step at-or-after the previous step's min
    completion), whole sequence within horizon of t1. Dense ties, users
    missing steps, empty funnels, and noise events included."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        funnel as FUN,
    )

    steps = ["a", "b", "c"]
    rows = events or [(0, 0, "x")]  # empty funnel still emits 3 rows
    df = spark.createDataFrame(
        rows, "user_id int, epoch int, event_type string"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"), "event_type")

    # sequential reference
    t1: dict[int, int] = {}
    for u, t, e in rows:
        if e == steps[0] and (u not in t1 or t < t1[u]):
            t1[u] = t
    cur = {u: (t, t) for u, t in t1.items()}  # u -> (t_prev, t1)
    counts = [len(cur)]
    for s in steps[1:]:
        nxt: dict[int, tuple[int, int]] = {}
        for u, t, e in rows:
            if e == s and u in cur:
                tp, anchor = cur[u]
                if tp <= t <= anchor + horizon and (u not in nxt or t < nxt[u][0]):
                    nxt[u] = (t, anchor)
        cur = nxt
        counts.append(len(cur))

    n1 = counts[0]
    want = []
    prev = None
    for i, (nm, n) in enumerate(zip(steps, counts)):
        conv_o = _r6(n / n1) if n1 > 0 else None
        if i == 0:
            conv_p = conv_o
        else:
            conv_p = _r6(n / prev) if prev and prev > 0 else None
        want.append((i + 1, nm, n, conv_o, conv_p))
        prev = n

    got = sorted(
        (r.step, r.step_name, r.n_users, r.conv_overall, r.conv_prev)
        for r in FUN.funnel_steps(
            df, steps, horizon=f"{horizon} seconds"
        ).collect()
    )
    assert got == want


_retention_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 29)),  # (user, day)
    min_size=1,
    max_size=30,
)


@given(events=_retention_events)
@settings(**_SETTINGS)
def test_retention_matches_reference(spark, events):
    """retention_cohorts against a sequential reference over a calendar
    anchored at 2024-01-01 (a Monday, so day//7 IS the Monday-week
    index). Single-user cohorts, gaps, and full-cohort ties included."""
    import datetime as dt

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        funnel as FUN,
    )

    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    df = spark.createDataFrame(events, "user_id int, day int").select(
        "user_id",
        F.timestamp_seconds(F.lit(base) + F.col("day") * 86400 + 3600).alias("ts"),
    )

    weeks = {(u, d // 7) for u, d in events}
    cohort = {}
    for u, w in weeks:
        cohort[u] = min(cohort.get(u, w), w)
    sizes = Counter(cohort.values())
    grid = Counter((cohort[u], w - cohort[u]) for u, w in weeks)
    want = sorted(
        (
            (dt.date(2024, 1, 1) + dt.timedelta(weeks=cw)).isoformat(),
            off,
            sizes[cw],
            n,
            _r6(n / sizes[cw]),
        )
        for (cw, off), n in grid.items()
    )

    got = sorted(
        (r.cohort_week.isoformat(), r.week_offset, r.cohort_size, r.n_active,
         r.retention)
        for r in FUN.retention_cohorts(df).collect()
    )
    assert got == want


def test_funnel_retention_hot_user_skew(spark):
    """VERDICT r7 #7: the bot shape the min-groupBy discipline was
    designed for — 1% of users carry 90% of the events (here: user 0
    holds 9000 of 10000 events). The production operators must agree
    exactly with the rank-window formulation they avoid (the window
    arm is the SLOW spelling under skew, never a different answer —
    NOTES_r8 §7 records the gap at 4M events)."""
    from pyspark.sql import Window

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        funnel as FUN,
    )

    steps = ["view", "click", "purchase"]
    ev = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit(0))
        .otherwise(1 + (F.col("id") * 31) % 99)
        .alias("user_id"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") % 86_400).alias(
            "ts"
        ),
        F.element_at(
            F.array(*[F.lit(s) for s in steps]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
    )
    got = {
        (r.step, r.n_users)
        for r in FUN.funnel_steps(ev, steps).collect()
    }
    # rank-window spelling of the same funnel
    w = Window.partitionBy("user_id").orderBy("ts")
    first = (
        ev.filter(F.col("event_type") == steps[0])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("t_prev"), F.col("ts").alias("t1"))
    )
    reached = first
    counts = {1: first.count()}
    for i, name in enumerate(steps[1:], start=2):
        reached = (
            ev.filter(F.col("event_type") == name)
            .join(reached, "user_id")
            .filter(
                (F.col("ts") >= F.col("t_prev"))
                & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 days"))
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("ts").alias("t_prev"), "t1")
        )
        counts[i] = reached.count()
    assert {(s, n) for s, n in counts.items()} == got
    # retention first-seen: min-groupBy vs rank window, exact agreement
    wk = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    )
    via_min = {
        (r.user_id, r.cohort_week)
        for r in wk.groupBy("user_id")
        .agg(F.min("wk").alias("cohort_week"))
        .collect()
    }
    wwk = Window.partitionBy("user_id").orderBy("wk")
    via_rank = {
        (r.user_id, r.wk)
        for r in wk.withColumn("rn", F.row_number().over(wwk))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert via_min == via_rank
    # the hot user is actually hot: one user holds 90% of events
    top = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    assert top["count"] == 9_000


@given(
    n_vecs=st.integers(1, 12),
    n_cells=st.integers(1, 5),
    seed=st.integers(0, 5),
)
@settings(**_SETTINGS)
def test_kmeans_quality_matches_reference(spark, n_vecs, n_cells, seed):
    """Given the operator's own quantizer output (ivf_assign is
    oracle-pinned elsewhere), per-cell n_vectors and inertia must equal
    the plain-Python reduction: the same left-to-right squared-distance
    fold, HALF_UP-rounded to 6 dp per member, summed exactly in Decimal
    (the money-sum convention the operator applies in Spark). Duplicate
    vectors and n_cells > n_vecs included."""
    import hashlib
    from decimal import Decimal

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        similarity as SIM,
    )

    dim = 4

    def vec(i: int) -> list[float]:
        j = i % max(1, n_vecs - 2)
        return [
            (int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:6], 16)
             % 1000) / 250.0
            for d in range(dim)
        ]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(n_vecs)],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        (r.cell, r.n_vectors, r.inertia)
        for r in SIM.kmeans_quality(
            emb, dim=dim, n_centroids=n_cells
        ).collect()
    )

    assigned, cents = SIM.ivf_assign(
        emb, dim, n_centroids=n_cells
    )
    cmap = {r.cell: list(r.cvec) for r in cents.collect()}
    members = [(r.id, list(r.v), r.cell) for r in assigned.collect()]
    DD.release_dedup_caches()

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    want = []
    for cell in sorted({c for _, _, c in members}):
        ds = [_r6(d2(v, cmap[cell])) for i, v, c in members if c == cell]
        want.append(
            (cell, len(ds), float(sum(Decimal(str(d)) for d in ds)))
        )
    assert got == sorted(want)


@given(texts=st.lists(st.text(alphabet="ab c", min_size=0, max_size=12),
                      min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_tokenizer_fertility_matches_reference(spark, texts):
    """tokenizer_fertility against a plain-Python aggregation of
    bpe_encode_counts' own per-doc output (the encoder is reference-
    pinned elsewhere): exact integer sums per stratum, rounded ratios,
    0-denominator NULLs. Strata alternate by doc id so multi-doc strata
    and empty docs both occur."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        textops as TOX,
    )

    rows = [(i, t, "s" + str(i % 2)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    merges = [(r.lhs, r.rhs) for r in TOX.bpe_train(docs, n_merges=4).collect()]

    got = sorted(
        (r.stratum, r.n_docs, r.n_words, r.n_tokens, r.n_chars,
         r.fertility, r.chars_per_token)
        for r in TOX.tokenizer_fertility(docs, merges).collect()
    )

    enc = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_chars)
        for r in TOX.bpe_encode_counts(docs, merges).collect()
    }
    agg: dict[str, list[int]] = {}
    for i, _, lang in rows:
        w, t, c = enc[i]
        a = agg.setdefault(lang, [0, 0, 0, 0])
        a[0] += 1; a[1] += w; a[2] += t; a[3] += c
    want = sorted(
        (
            lang, n, w, t, c,
            _r6(t / w) if w > 0 else None,
            _r6(c / t) if t > 0 else None,
        )
        for lang, (n, w, t, c) in agg.items()
    )
    assert got == want


@given(texts=st.lists(st.text(alphabet="ab c", min_size=0, max_size=14),
                      min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_ngram_diversity_matches_reference(spark, texts):
    """ngram_diversity against a plain-Python counter: occurrence-
    preserving n-grams (NOT the dedup shingles' per-doc distinct),
    exact totals/distincts per (stratum, n), sub-n docs contribute
    nothing at that n, and a stratum with zero n-grams emits no row."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        textops as TOX,
    )

    rows = [(i, t, "s" + str(i % 2)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = sorted(
        tuple(r) for r in TOX.ngram_diversity(docs).collect()
    )

    def grams(t: str, n: int) -> list[str]:
        toks = [w for w in t.lower().split() if w]
        return ["␟".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    want = []
    for n in (1, 2, 3):
        for s in sorted({s for _, _, s in rows}):
            all_g = [g for _, t, src in rows if src == s for g in grams(t, n)]
            if not all_g:
                continue  # a stratum with zero n-grams emits no row
            tot, dist = len(all_g), len(set(all_g))
            want.append((s, n, tot, dist, _r6(dist / tot)))
    assert got == sorted(want)


# --- r8 s3: CDC compaction vs sequential reference --------------------------

_cdc_changes = st.lists(
    st.tuples(
        st.integers(0, 4),                      # key (dense: collisions)
        st.integers(0, 30),                     # seq (dense: ties)
        st.sampled_from(["U", "U", "U", "D"]),  # op, deletes ~25%
        st.integers(-3, 3),                     # payload
    ),
    min_size=0,
    max_size=30,
)


def _py_cdc(rows):
    """Reference: per key the max (seq, op, payload) wins; 'D' removes."""
    best: dict[int, tuple] = {}
    for k, seq, op, val in rows:
        cand = (seq, op, (val,))
        if k not in best or cand > best[k]:
            best[k] = cand
    return sorted(
        (k, s, v[0]) for k, (s, op, v) in best.items() if op != "D"
    )


@given(rows=_cdc_changes, cut_seed=st.integers(0, 10**6))
@settings(**_SETTINGS)
def test_cdc_state_merge_matches_reference_under_any_split(spark, rows, cut_seed):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
        cdc_apply,
        cdc_snapshot,
        cdc_state_merge,
    )
    import random as _random

    df_schema = "k BIGINT, seq INT, op STRING, val INT"
    rng = _random.Random(cut_seed)
    shuffled = list(rows)
    rng.shuffle(shuffled)  # batch boundaries ignore seq order on purpose
    cut = rng.randint(0, len(shuffled))
    first, second = shuffled[:cut], shuffled[cut:]
    state = cdc_apply(
        spark.createDataFrame(first, df_schema) if first
        else spark.createDataFrame([], df_schema),
        ["k"], ["seq"], keep_op=True,
    )
    if second:
        state = cdc_state_merge(
            state, spark.createDataFrame(second, df_schema), ["k"], ["seq"]
        )
    got = sorted(
        (r["k"], r["seq"], r["val"]) for r in cdc_snapshot(state).collect()
    )
    assert got == _py_cdc(rows)


# --- r8 s3: SymSpell fuzzy pairs vs brute force ------------------------------

_fuzzy_words = st.lists(
    st.text(alphabet="ab", min_size=0, max_size=6), min_size=0, max_size=25,
)


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(words=_fuzzy_words, k=st.sampled_from([1, 2]))
@settings(**_SETTINGS)
def test_fuzzy_pairs_complete_vs_brute_force(spark, words, k):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.fuzzy import (
        fuzzy_pairs,
    )

    words = sorted(set(words))
    if len(words) < 2:
        return
    df = spark.createDataFrame(list(enumerate(words)), "id BIGINT, s STRING")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_pairs(df, "id", "s", max_dist=k).collect()
    }
    want = {
        (i, j, _py_lev(words[i], words[j]))
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if _py_lev(words[i], words[j]) <= k
    }
    assert got == want


# --- r8 s3: z-order key vs Python reference over derived bounds --------------

_z_rows = st.lists(
    st.tuples(st.integers(-1000, 1000), st.integers(0, 7)),
    min_size=1, max_size=30,
)


@given(rows=_z_rows, bits=st.sampled_from([4, 10, 16]))
@settings(**_SETTINGS)
def test_zorder_key_matches_reference_with_derived_bounds(spark, rows, bits):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.layout import (
        Z_COL,
        with_zorder_key,
    )

    df = spark.createDataFrame(rows, "x BIGINT, y BIGINT")
    got = {
        (r["x"], r["y"]): r[Z_COL]
        for r in with_zorder_key(df, ["x", "y"], bits).collect()
    }
    xs, ys = [r[0] for r in rows], [r[1] for r in rows]
    m = (1 << bits) - 1

    def scale(v, lo, hi):
        return (v - lo) * m // max(hi - lo, 1)

    def interleave(a, b):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), zv in got.items():
        want = interleave(
            scale(x, min(xs), max(xs)), scale(y, min(ys), max(ys))
        )
        assert zv == want, (x, y, bits)


# --- r8 s3: interval join vs naive quadratic reference -----------------------

_intervals = st.lists(
    st.tuples(st.integers(-50, 50), st.integers(0, 40)),  # (start, length)
    min_size=0, max_size=20,
)


@given(lints=_intervals, rints=_intervals, width=st.sampled_from([1, 9, 64]))
@settings(**_SETTINGS)
def test_interval_join_matches_naive(spark, lints, rints, width):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.interval import (
        interval_join,
    )

    lrows = [(i, s, s + ln) for i, (s, ln) in enumerate(lints)]
    rrows = [(i, s, s + ln) for i, (s, ln) in enumerate(rints)]
    if not lrows or not rrows:
        return
    left = spark.createDataFrame(lrows, "lid BIGINT, ls BIGINT, le BIGINT")
    right = spark.createDataFrame(rrows, "rid BIGINT, rs BIGINT, re BIGINT")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_join(
            left, right, "ls", "le", "rs", "re", bucket_width=width
        ).collect()
    )
    want = sorted(
        (li, ri)
        for li, ls, le in lrows
        for ri, rs, re_ in rrows
        if ls <= re_ and rs <= le
    )
    assert got == want
