"""Learned-BPE tokenizer: encode spec equivalence (Spark expressions vs
a pure-Python reference vs the DuckDB SQL twin), training determinism,
and the packing property the whole surface exists for — token budgets
never overflow when contexts are cut in real tokens."""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from data_pipeline_framework_spark.functions.sampling import pack_contexts
from data_pipeline_framework_spark.functions.text import token_count
from data_pipeline_framework_spark.functions.tokenize import (
    BPETokenizer,
    PandasTokenizer,
    WhitespaceTokenizer,
    bpe_count_sql,
    bpe_token_count,
    bpe_tokenize,
    default_merges,
    load_merges,
    save_merges,
    train_bpe_merges,
)

MERGES = [("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"), ("s", "s")]


def py_encode(text: str, merges) -> list[str]:
    """Reference implementation of the ranked-merge spec: normalize,
    wrap chars, one global leftmost-nonoverlapping replace per merge."""
    if text is None:
        return []
    t = re.sub("[^a-z0-9]+", " ", text.lower()).strip()
    s = re.sub("([a-z0-9])", r"(\1)", t)
    for a, b in merges:
        s = s.replace(f"({a})({b})", f"({a}{b})")
    s = s.replace(" ", "")
    return [x for x in s[1:-1].split(")(")] if s else []


TRICKY = [
    "The THEME and the sand!",          # case folding, merge-in-word
    "ssssss",                            # self-overlapping merge (s,s)
    "a  b\t\nc--d",                      # whitespace/punct runs
    "123 and then some th",              # digits, short words
    "",                                  # empty
    "   ",                               # whitespace only
    "þorn ünïcode",                      # non-ascii folds to separators
]


def test_encode_matches_python_reference(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRICKY)], ["id", "text"]
    )
    tok = BPETokenizer(MERGES)
    got = {
        r["id"]: (r["toks"], r["n"])
        for r in df.select(
            "id",
            tok.tokens_expr("text").alias("toks"),
            tok.count_expr("text").alias("n"),
        ).collect()
    }
    for i, t in enumerate(TRICKY):
        want = py_encode(t, MERGES)
        assert got[i][0] == want, (t, got[i][0], want)
        assert got[i][1] == len(want)


def test_encode_handles_null(spark):
    df = spark.createDataFrame([(1, None)], "id int, text string")
    tok = BPETokenizer(MERGES)
    row = df.select(
        tok.count_expr("text").alias("n"), tok.tokens_expr("text").alias("t")
    ).collect()[0]
    assert row["n"] == 0 and row["t"] == []


def test_count_sql_twin_matches_spark(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRICKY)], ["id", "text"]
    )
    tok = BPETokenizer(MERGES)
    got = {
        r["id"]: r["n"]
        for r in df.select("id", tok.count_expr("text").alias("n")).collect()
    }
    con = duckdb.connect()
    sql = bpe_count_sql("t.txt", MERGES)
    for i, t in enumerate(TRICKY):
        n = con.execute(
            f"select {sql} from (select ?::VARCHAR as txt) t", [t]
        ).fetchone()[0]
        assert n == got[i], (t, n, got[i])


def test_packaged_merges_are_nontrivial(spark, sf_dir):
    """The committed merges table must produce SUBWORD granularity on
    the corpus it was trained for (not collapse to whitespace counts)."""
    from data_pipeline_framework_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = bpe_token_count(docs, "text").withColumn(
        "n_ws", F.size(F.array_remove(F.split("text", r"\s+"), ""))
    )
    agg = out.agg(
        F.sum("n_bpe_tokens").alias("bpe"), F.sum("n_ws").alias("ws"),
        F.sum((F.col("n_bpe_tokens") < F.col("n_ws")).cast("int")).alias("bad"),
    ).collect()[0]
    assert agg["bad"] == 0          # BPE can never undercut word count
    assert agg["bpe"] > agg["ws"]   # and actually splits subwords here


def test_training_deterministic_and_prefix_stable(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the theory of the thing", "then the sand and the sea",
             "toss the thread through", "thin threads thin the throng"] * 5
        )],
        ["id", "text"],
    )
    m20 = train_bpe_merges(df, "text", n_merges=20, order_col="id")
    m20b = train_bpe_merges(df, "text", n_merges=20, order_col="id")
    m8 = train_bpe_merges(df, "text", n_merges=8, order_col="id")
    assert m20 == m20b
    assert m20[:8] == m8            # greedy training is prefix-stable
    assert all(len(a) and len(b) for a, b in m20)


def test_distributed_trainer_matches_driver_trainer(spark):
    """The full-corpus Spark trainer and the driver-sample trainer are
    the SAME algorithm: identical merges (same greedy choices, same
    count-desc/pair-lexicographic tie-break, same min-count stop) when
    the driver sample covers the whole corpus."""
    from data_pipeline_framework_spark.functions.tokenize import (
        train_bpe_merges_distributed,
    )

    texts = [
        "the theory of the thing", "then the sand and the sea",
        "toss the thread through", "thin threads thin the throng",
        "ssssss and the sand again", "123 theme and sand 123",
    ] * 4
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "text"]
    )
    want = train_bpe_merges(
        df, "text", n_merges=16, max_train_docs=10_000, order_col="id"
    )
    got = train_bpe_merges_distributed(df, "text", n_merges=16)
    assert got == want
    # early stop below min_count mirrors the driver trainer
    tiny = spark.createDataFrame([(1, "ab xy")], ["id", "text"])
    assert train_bpe_merges_distributed(tiny, "text", n_merges=8) == []


def _cached_rdd_ids(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_distributed_trainer_releases_its_rounds(spark):
    """every round's localCheckpoint is released: unpersist() alone is
    a no-op on a checkpointed frame and left one RDD per round."""
    from data_pipeline_framework_spark.functions.tokenize import (
        train_bpe_merges_distributed,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the theory of the thing", "then the sand and the sea"] * 3
        )],
        ["id", "text"],
    )
    before = _cached_rdd_ids(spark)
    merges = train_bpe_merges_distributed(df, "text", n_merges=5)
    assert len(merges) == 5
    # compared by id: earlier tests' leftovers may be cleaned meanwhile
    assert _cached_rdd_ids(spark) - before == set()


def test_merges_roundtrip(tmp_path):
    p = str(tmp_path / "m.txt")
    save_merges(MERGES, p)
    assert load_merges(p) == MERGES
    assert len(default_merges()) >= 32


def test_invalid_merges_rejected():
    with pytest.raises(ValueError):
        BPETokenizer([("a", "")])
    with pytest.raises(ValueError):
        BPETokenizer([("(", "b")])


def test_token_count_tokenizer_hook(spark):
    df = spark.createDataFrame([(1, "the sand and the sea")], ["id", "text"])
    out = token_count(df, "text", tokenizer=BPETokenizer(MERGES))
    assert out.collect()[0]["n_tokens"] == len(
        py_encode("the sand and the sea", MERGES)
    )
    ws = token_count(df, "text", tokenizer=WhitespaceTokenizer())
    assert ws.collect()[0]["n_tokens"] == 5


def test_pandas_tokenizer_hook(spark):
    # stand-in for tiktoken/HF: a trivial splitter running as a pandas UDF
    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "id int, text string"
    )
    tok = PandasTokenizer(lambda t: t.split())
    rows = {
        r["id"]: (r["n"], r["toks"])
        for r in df.select(
            "id",
            tok.count_expr("text").alias("n"),
            tok.tokens_expr("text").alias("toks"),
        ).collect()
    }
    assert rows[1] == (3, ["a", "b", "c"])
    assert rows[2] == (0, [])


def test_pack_contexts_bpe_budget_never_overflows(spark, sf_dir):
    """THE packing property: with a real tokenizer measuring the stream,
    every context holds exactly context_len tokens except the final one,
    and no context ever exceeds the budget."""
    from data_pipeline_framework_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    L = 96
    tok = BPETokenizer()
    packed = pack_contexts(
        docs, "doc_id", "text", context_len=L, tokenizer=tok
    )
    fills = (
        packed.groupBy("context_id")
        .agg(F.sum("n_tokens").alias("fill"))
        .collect()
    )
    by_ctx = {r["context_id"]: r["fill"] for r in fills}
    last = max(by_ctx)
    assert all(f == L for c, f in by_ctx.items() if c != last)
    assert 0 < by_ctx[last] <= L
    # total across contexts == total corpus BPE tokens (nothing dropped)
    total = bpe_token_count(docs, "text").agg(
        F.sum("n_bpe_tokens")
    ).collect()[0][0]
    assert sum(by_ctx.values()) == total
    # pieces re-joined per context reconstruct the token stream lengths
    bad = packed.filter(
        F.size(F.split("piece_text", " ")) != F.col("n_tokens")
    ).count()
    assert bad == 0


def test_vocab_and_ids_roundtrip(spark):
    tok = BPETokenizer(MERGES)
    v = tok.vocab()
    # base alphabet fixed, merge products appended in rank order
    assert v["a"] == 0 and v["9"] == 35
    assert v["th"] == 36 and v["the"] == 37 and v["ss"] == 40
    df = spark.createDataFrame(
        [(1, "the sand!"), (2, ""), (3, None)], "id int, text string"
    )
    rows = {
        r["id"]: r["ids"]
        for r in df.select("id", tok.ids_expr("text").alias("ids")).collect()
    }
    inv = {i: t for t, i in v.items()}
    assert [inv[i] for i in rows[1]] == py_encode("the sand!", MERGES)
    assert all(i >= 0 for i in rows[1])  # nothing out-of-vocab
    assert rows[2] == [] and rows[3] == []


def test_chunk_documents_with_tokenizer(spark):
    """chunks cut in learned-token units: windows tile the BPE stream."""
    from data_pipeline_framework_spark.functions.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "the sand and the sea and the theme")], ["id", "text"]
    )
    tok = BPETokenizer(MERGES)
    stream = py_encode("the sand and the sea and the theme", MERGES)
    rows = chunk_documents(
        df, "id", "text", window=5, stride=5, tokenizer=tok
    ).orderBy("chunk_id").collect()
    rebuilt = [t for r in rows for t in r["chunk_text"].split(" ")]
    assert rebuilt == stream
    assert all(r["n_tokens"] <= 5 for r in rows)


def test_engines_agree_on_packaged_merges(spark, sf_dir):
    """The Arrow fast path and the JVM chained-replace reference are
    the SAME function: identical counts and token arrays on the
    packaged 48-merge table over real corpus text, the tricky edge
    strings, and null — and engine='auto' dispatches by merge count."""
    from data_pipeline_framework_spark.functions.tokenize import (
        ARROW_MERGE_THRESHOLD,
    )
    from data_pipeline_framework_spark.sources import read_table

    assert len(default_merges()) >= ARROW_MERGE_THRESHOLD
    assert BPETokenizer().resolved_engine == "arrow"
    assert BPETokenizer(MERGES).resolved_engine == "jvm"

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(300)
    )
    extra = spark.createDataFrame(
        [(10_000 + i, t) for i, t in enumerate(TRICKY)]
        + [(99_999, None)],
        "doc_id long, text string",
    )
    df = docs.unionByName(extra)
    jvm = BPETokenizer(engine="jvm")
    arrow = BPETokenizer(engine="arrow")
    bad = df.select(
        "doc_id",
        jvm.count_expr("text").alias("nj"),
        arrow.count_expr("text").alias("na"),
        jvm.tokens_expr("text").alias("tj"),
        arrow.tokens_expr("text").alias("ta"),
    ).filter(
        (F.col("nj") != F.col("na")) | (F.col("tj") != F.col("ta"))
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_bpe_tokenize_roundtrips_count(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRICKY) if t.strip()], ["id", "text"]
    )
    out = bpe_tokenize(df, "text", MERGES).withColumn(
        "n", F.size("bpe_tokens")
    )
    cnt = bpe_token_count(df, "text", MERGES)
    a = {r["id"]: r["n"] for r in out.collect()}
    b = {r["id"]: r["n_bpe_tokens"] for r in cnt.collect()}
    assert a == b


# --------------------------------------------------- production-scale vocab


def _naive_train(words, n_merges, min_count=2):
    """The classic O(|vocab|) per-round greedy loop — the reference the
    incremental trainer must reproduce exactly."""
    from collections import Counter

    from data_pipeline_framework_spark.functions.tokenize import (
        _merge_once,
    )

    vocab = {tuple(w): c for w, c in words.items() if w}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < min_count:
            break
        merges.append(best)
        nxt = {}
        for sym, c in vocab.items():
            m = _merge_once(sym, *best)
            nxt[m] = nxt.get(m, 0) + c
        vocab = nxt
    return merges


def test_incremental_trainer_matches_naive_loop():
    """train_bpe_merges_from_counts (heap + inverted index) must be
    bit-identical to the naive loop — counts, tie-breaks, stop
    condition — across random corpora with heavy pair collisions."""
    import random
    from collections import Counter

    from data_pipeline_framework_spark.functions.tokenize import (
        train_bpe_merges_from_counts,
    )

    rng = random.Random(20240815)
    for trial in range(12):
        alpha = "ab" if trial % 3 == 0 else "abcde"
        words = Counter()
        for _ in range(rng.randint(5, 150)):
            w = "".join(
                rng.choice(alpha) for _ in range(rng.randint(1, 12))
            )
            words[w] += rng.randint(1, 5)
        nm = rng.randint(1, 64)
        assert train_bpe_merges_from_counts(words, nm) == _naive_train(
            words, nm
        ), f"trial {trial}"


def test_ranked_encode_equals_sequential_spec_on_32k_table():
    """the rank-priority fast path (flat in merge count) must produce
    the EXACT token sequence of the sequential one-pass-per-merge spec
    on the committed 32,768-merge production table — checked on real
    corpus words and on adversarial synthetic ones."""
    from data_pipeline_framework_spark.functions.tokenize import (
        _encode_word,
        _encode_word_ranked,
        _table_safe,
        merges_32k,
    )

    table = merges_32k()
    assert len(table) == 32_768
    assert _table_safe(table)
    merges = tuple(table)
    ranks = {}
    for i, p in enumerate(merges):
        ranks.setdefault(p, i)

    words = [
        "lorem", "ipsum", "shipping", "warehouse", "analytics",
        "tokenization", "pretraining", "deduplication", "connection",
        "configuration", "serialization", "x", "qq", "3290a",
        "aaaaaaaa", "abababab", "datasetfingerprint", "zzzzzzzzzz",
        "internationalization", "supercalifragilistic",
    ]
    for w in words:
        seq = _encode_word(w, merges)
        seq_toks = seq[1:-1].split(")(") if seq else []
        assert _encode_word_ranked(w, merges, ranks) == seq_toks, w


def test_unsafe_table_falls_back_to_sequential():
    """a user table where a later merge produces an earlier merge's
    operand is NOT rank-priority-safe: the tokenizer must detect it and
    use the sequential spec (rank-priority would over-merge)."""
    from data_pipeline_framework_spark.functions.tokenize import (
        _table_safe,
        _word_tokens,
    )

    unsafe = [("ab", "c"), ("a", "b")]
    assert not _table_safe(unsafe)
    tok = BPETokenizer(unsafe, engine="arrow")
    assert tok._ranks is None
    # sequential: pass 0 finds no (ab, c); pass 1 makes [ab, c] -> 2
    # tokens. rank-priority would continue to [abc] -> 1 token.
    assert _word_tokens("abc", tuple(unsafe), None) == ["ab", "c"]


def test_32k_vocab_spark_count_matches_driver_reference(spark):
    """end-to-end: the Arrow rank-priority engine under Spark returns
    the sequential-spec count for every row, on the production table."""
    from data_pipeline_framework_spark.functions.tokenize import (
        merges_32k,
    )

    table = merges_32k()
    texts = [
        ("Lorem ipsum dolor sit amet, consectetur adipiscing elit!",),
        ("Warehouse shipping manifest #3290A — priority: HIGH",),
        ("",),
        (None,),
        ("the quick brown fox jumps over the lazy dog",),
    ]
    df = spark.createDataFrame(texts, "text string")
    got = [
        r["n_bpe_tokens"]
        for r in bpe_token_count(df, "text", merges=table)
        .select("n_bpe_tokens").collect()
    ]
    want = [len(py_encode(t[0], table)) for t in texts]
    assert got == want


def test_ids_expr_agrees_across_engines_and_32k(spark):
    """token ids: the Arrow path (ids computed inside the UDF) must
    equal the JVM literal-map path on the packaged merges, and must
    work at 32K vocab scale where a literal map is not viable."""
    from data_pipeline_framework_spark.functions.tokenize import (
        merges_32k,
    )

    df = spark.createDataFrame(
        [("the sand and glass",), ("",), (None,)], "text string"
    )
    jvm = BPETokenizer(MERGES, engine="jvm")
    arrow = BPETokenizer(MERGES, engine="arrow")
    a = [r[0] for r in df.select(jvm.ids_expr("text")).collect()]
    b = [r[0] for r in df.select(arrow.ids_expr("text")).collect()]
    assert a == b

    big = BPETokenizer(merges_32k())  # auto -> arrow
    assert big.resolved_engine == "arrow"
    ids = [r[0] for r in df.select(big.ids_expr("text")).collect()]
    toks = [r[0] for r in df.select(big.tokens_expr("text")).collect()]
    vocab = big.vocab()
    assert ids == [[vocab.get(t, -1) for t in row] for row in toks]
    # every id resolves (merge products are always in the vocab)
    assert all(i >= 0 for row in ids for i in row)


def test_with_sep_ids_agree_across_engines(spark):
    """with_sep encodes: the JVM boundary token ('( )' splice) and the
    Arrow boundary id must produce identical id streams, and the sep id
    sits one past the real vocab so it never collides."""
    df = spark.createDataFrame(
        [(t,) for t in TRICKY] + [("the sand and glass",), (None,)],
        "text string",
    )
    jvm = BPETokenizer(MERGES, engine="jvm")
    arrow = BPETokenizer(MERGES, engine="arrow")
    assert jvm.sep_id == arrow.sep_id == len(jvm.vocab())
    a = [r[0] for r in df.select(jvm.ids_expr("text", with_sep=True)).collect()]
    b = [r[0] for r in
         df.select(arrow.ids_expr("text", with_sep=True)).collect()]
    assert a == b
    # boundary ids present exactly between words
    one = dict(zip(
        [r[0] for r in df.select("text").collect()], a
    ))["the sand and glass"]
    assert one.count(jvm.sep_id) == 3


def test_bpe_roundtrip_identity_on_documents_32k(spark, sf_dir):
    """decode(encode(text)) == normalized text — pinned over the real
    documents corpus on the 32,768-merge production table, plus the
    tricky edge strings. The id stream (with_sep) is fully invertible;
    what is NOT recoverable is exactly what normalization drops
    (casing, punctuation), by contract."""
    from data_pipeline_framework_spark.functions.tokenize import (
        _normalize,
        bpe_detokenize,
        bpe_encode_ids,
        merges_32k,
    )
    from data_pipeline_framework_spark.sources import read_table

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(400)
    )
    extra = spark.createDataFrame(
        [(10_000 + i, t) for i, t in enumerate(TRICKY)],
        "doc_id long, text string",
    )
    df = docs.unionByName(extra)
    enc = bpe_encode_ids(df, "text", merges=merges_32k())
    dec = bpe_detokenize(enc, "bpe_ids", merges=merges_32k())
    bad = dec.select(
        "doc_id",
        F.coalesce(_normalize(F.col("text")), F.lit("")).alias("norm"),
        F.coalesce("text_decoded", F.lit("")).alias("rt"),
    ).filter(F.col("norm") != F.col("rt"))
    assert bad.count() == 0, bad.limit(3).collect()


def test_decode_ids_python_helper():
    tok = BPETokenizer(MERGES)
    v = tok.vocab()
    ids = [v["the"], tok.sep_id, v["s"], v["an"], v["d"]]
    assert tok.decode_ids(ids) == "the sand"
    assert tok.decode_ids(None) is None
    assert tok.decode_ids([]) == ""
    # unknown id decodes to the replacement char, not a crash
    assert "�" in tok.decode_ids([10**6])
