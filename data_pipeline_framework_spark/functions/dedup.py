"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design point is 100 TB of documents:
  * exact dedup = hash-groupBy (one shuffle on a 52-bit fingerprint)
  * near-dup never does an O(n^2) self-join — candidates come from an
    inverted index (shared shingle) or LSH band buckets, then only
    candidates get the exact Jaccard verification
  * all hashes are the portable md5-prefix hash (functions/text.py:hash52)
    so results are reproducible across engines/runs — no Python UDFs

MinHash: k signatures h_i(x) = (a_i*x + b_i) mod p over shingle hashes,
computed as k min-aggregations in ONE pass (no k-way explode). Constants
are seeded (seed 42) and exported as MINHASH_PARAMS for oracle SQL.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..performance.cache import release
from .text import _spread, hash52, tokens  # noqa: F401  (_spread re-exported; long-standing import site for callers)

# (a, b) pairs for k=16 minhash permutations; a < 2^10 keeps a*hash52 < 2^62
# (no int64 overflow), p = 2^61 - 1 (Mersenne prime).
MINHASH_P = (1 << 61) - 1
_rng = random.Random(42)
MINHASH_PARAMS: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 10), _rng.randrange(0, 1 << 60)) for _ in range(16)
]
LSH_BANDS = 4  # 4 bands x 4 rows


def shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word-n-gram shingle strings of the lowercased text.

    The transform body indexes words with element_at instead of
    slice+concat_ws: per-element slice allocates a subarray inside the
    interpreted lambda, ~35% slower on the shingle stage (measured at
    sf0.1) for identical output."""
    w = tokens(text_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + k + 1) for k in range(n)]
        ),
    )
    # degenerate doc shorter than n words -> single shingle of all words
    grams = F.when(F.size(w) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", w))
    )
    return F.array_distinct(grams)


def shingle_hashes(text_col: Column | str, n: int = 3) -> Column:
    return F.transform(shingles(text_col, n), hash52)


def shingled_docs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, __sh) with __sh = hashed distinct shingles — via a two-step
    select that BINDS the token array to a column before any lambda
    touches it. A lambda body re-evaluates captured non-trivial
    expressions per element, so inlining tokens() (split+lower over the
    raw text) into the transform multiplies the tokenize cost by the
    shingle count — measured 18x slower at sf0.1. All dedup pipelines
    shingle through here; the column-style `shingle_hashes` remains for
    expression composition on already-bound token/text columns."""
    w = F.col("__sw")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + k + 1) for k in range(n)]
        ),
    )
    grams = F.when(F.size(w) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", w))
    )
    return df.select(
        F.col(id_col), *carry, tokens(text_col).alias("__sw")
    ).select(
        id_col,
        *carry,
        F.transform(F.array_distinct(grams), hash52).alias("__sh"),
    )


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Groups of byte-identical (normalized) documents: one row per
    duplicate group with the canonical (min) id, member count and ids.
    Single shuffle on the fingerprint."""
    from .text import fingerprint

    d = fingerprint(df.select(id_col, text_col), text_col)
    return (
        d.groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def _minhash_ab_lit() -> Column:
    """array<array<bigint>> [[a_i, b_i], ...] literal in ONE driver call
    (the integer sibling of similarity._nested_double_lit); json
    round-trips int64 exactly and Catalyst constant-folds it."""
    import json

    return F.from_json(
        F.lit(json.dumps([[a, b] for a, b in MINHASH_PARAMS])),
        "array<array<bigint>>",
    )


def minhash_signature_select(
    d: DataFrame, id_col: str, hashes_col: str = "__sh"
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) from an array-of-shingle-hashes frame.

    One ``F.aggregate`` folds all k permutation minima at once instead
    of k separate ``array_min(transform(...))`` columns: each
    higher-order-function CONSTRUCTION costs ~12-15 ms of py4j round
    trips, so the unrolled form spent ~240 ms of pure driver time per
    plan (x2 for cross-corpus). Values are bit-identical: the fold
    applies the same (h*a+b) % p per element and ``least`` skips NULLs
    exactly like array_min, with the all-NULL/empty-array case kept
    NULL by the NULL-initialized accumulator. The two-step select keeps
    the fold bound to one column so CollapseProject cannot duplicate it
    into the k extractors (non-cheap expr referenced k times)."""
    k = len(MINHASH_PARAMS)
    sig = F.aggregate(
        F.col(hashes_col),
        F.array_repeat(F.lit(None).cast("long"), k),
        lambda acc, h: F.zip_with(
            acc,
            _minhash_ab_lit(),
            lambda m, p: F.least(m, (h * p[0] + p[1]) % MINHASH_P),
        ),
    )
    return d.select(id_col, sig.alias("__mhsig")).select(
        id_col,
        *[F.col("__mhsig")[i].alias(f"mh_{i}") for i in range(k)],
    )


def minhash_signature_cols(hashes_col: str = "__sh") -> list[Column]:
    """k min-hash values as unrolled per-permutation columns — the
    pre-round-9 form, kept for expression-level composition and as the
    equivalence baseline minhash_signature_select is pinned against."""
    # closure factory keeps the lambda unary (default args would change the
    # arity PySpark's higher-order-function binder sees)
    def _perm(a: int, b: int):
        return lambda h: (h * a + b) % MINHASH_P

    sig = []
    for i, (a, b) in enumerate(MINHASH_PARAMS):
        sig.append(
            F.array_min(
                F.transform(F.col(hashes_col), _perm(a, b))
            ).alias(f"mh_{i}")
        )
    return sig


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """One row per doc: id + mh_0..mh_{k-1}."""
    d = shingled_docs(_spread(df), id_col, text_col, n)
    return minhash_signature_select(d, id_col)


def band_keys(sig: DataFrame, id_col: str) -> DataFrame:
    """LSH band table from a signature frame: (id, band, key) with
    key = concat of the band's minhash values. Shared by the batch
    candidate self-join and the streaming signature store."""
    k = len(MINHASH_PARAMS)
    rows = k // LSH_BANDS
    return sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "_", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                    ).alias("key"),
                )
                for b in range(LSH_BANDS)
            ])
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def lsh_candidate_pairs(sig: DataFrame, id_col: str) -> DataFrame:
    """Docs sharing any LSH band -> distinct unordered candidate pairs.
    Band key = concat of the band's minhash values. The self-join is
    per-bucket (equi-join on band id+key), never all-pairs."""
    bands = band_keys(sig, id_col)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    shingled_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs: join each side's distinct shingle
    array back in, intersect/union sizes, filter by threshold. Pass
    ``shingled_b`` when id_b comes from a different corpus (cross-corpus
    dedup); default is the self-join case."""
    sa = shingled.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
    )
    sb = (shingled if shingled_b is None else shingled_b).select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.try_divide(inter, union))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n: int = 3,
    cache: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline:
    shingle -> signature -> band buckets -> candidates -> exact verify.

    The shingle arrays feed three plan branches (signature, verify-left,
    verify-right) and the band table self-joins, so without persistence the
    tokenize+md5 work runs ~4x. `cache=True` persists both intermediates —
    at 100 TB these would be checkpointed to storage between stages instead.
    """
    shingled = shingled_docs(_spread(df), id_col, text_col, n)
    if cache:
        shingled = shingled.persist()
    sig = minhash_signature_select(shingled, id_col)
    if cache:
        sig = sig.persist()
    cand = lsh_candidate_pairs(sig, id_col)
    return jaccard_verify(cand, shingled, id_col, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    max_df: float | int | None = 0.05,
    min_df_cut: int = 5,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup via inverted shingle index.

    Candidate generation: explode shingles, drop shingles whose document
    frequency exceeds ``max_df`` (fraction of corpus if <=1.0, else an
    absolute count; floor ``min_df_cut`` so tiny corpora keep an index),
    then self-join the surviving postings. The df-cut is the scale
    guarantee: one stop-shingle in 1% of 10^9 docs would otherwise emit
    ~10^14 candidate rows from a single key. Jaccard itself is verified
    EXACTLY on the full shingle sets of each candidate pair, so the cut
    only loses pairs whose every shared shingle is ultra-common — such
    pairs sit far below any useful threshold. ``max_df=None`` disables
    the cut (exact candidate generation too)."""
    sh = shingled_docs(_spread(df), id_col, text_col, n).persist()
    cand = ngram_candidate_pairs(sh, id_col, max_df, min_df_cut)
    return jaccard_verify(cand, sh, id_col, threshold)


def ngram_candidate_pairs(
    shingled: DataFrame,
    id_col: str,
    max_df: float | int | None = 0.05,
    min_df_cut: int = 5,
) -> DataFrame:
    """Inverted-index candidate pairs over (id, __sh shingle-array) rows,
    df-cut applied. Split out of ngram_jaccard_pairs so candidate-volume
    bounds are testable in isolation."""
    inv = shingled.select(id_col, F.explode("__sh").alias("h"))
    if max_df is not None:
        if isinstance(max_df, float) and max_df <= 1.0:
            # corpus size as a broadcast 1-row aggregate fused into the
            # same action as the shingle-df aggregation — no dedicated
            # driver-side count() job; floor(max_df*n) matches the old
            # int() truncation exactly for the positive operands here
            ndocs = shingled.agg(F.count(F.lit(1)).alias("__nd"))
            cut_expr = F.greatest(
                F.floor(F.lit(float(max_df)) * F.col("__nd")),
                F.lit(min_df_cut),
            ).cast("long")
            hot = (
                inv.groupBy("h")
                .agg(F.count(F.lit(1)).alias("__df"))
                .crossJoin(F.broadcast(ndocs))
                .filter(F.col("__df") > cut_expr)
                .select("h")
            )
        else:
            cut = int(max_df)
            hot = (
                inv.groupBy("h")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > cut)
                .select("h")
            )
        # hot shingles are few by construction: broadcast anti-join
        inv = inv.join(F.broadcast(hot), "h", "left_anti")
    inv = inv.persist()
    a = inv.select(F.col(id_col).alias("id_a"), "h")
    b = inv.select(F.col(id_col).alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


SIMHASH_BITS = 32


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """32-bit SimHash over distinct word tokens: bit i of the signature is
    the sign of sum over tokens of (+1 if bit i of hash52(token) else -1).
    Pure expression pipeline: tokens -> hashes -> per-bit vote fold; the
    hash array is BOUND to a column before the vote fold so the fold's
    lambda iterates a materialized array instead of re-evaluating
    tokenize+md5 per element (see shingled_docs)."""
    hashed = df.select(
        F.col(id_col),
        F.transform(F.array_distinct(tokens(text_col)), hash52).alias("__h"),
    )
    # bit positions are unrolled as Python ints: F.shiftright/shiftleft take a
    # literal bit count, not a Column
    votes = F.aggregate(
        F.col("__h"),
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
                for i in range(SIMHASH_BITS)
            ]),
            lambda x, y: x + y,
        ),
    )
    d = hashed.select(id_col, votes.alias("__votes"))
    bit_terms = [
        F.when(
            F.element_at("__votes", i + 1) > 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(SIMHASH_BITS)
    ]
    sig = bit_terms[0]
    for t in bit_terms[1:]:
        sig = sig + t
    return d.select(id_col, sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming, candidates from
    matching 8-bit signature blocks (pigeonhole: distance<=3 over 4 blocks
    guarantees one identical block)."""
    sig = simhash_signatures(_spread(df), id_col, text_col).persist()
    blocks = sig.select(
        id_col, "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("blk"),
                    F.shiftright("simhash", b * 8).bitwiseAND(F.lit(255))
                    .alias("key"),
                )
                for b in range(SIMHASH_BITS // 8)
            ])
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.blk", "bk.key")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _driver_union_find(rows, spark) -> DataFrame:
    """Finish tiny (bounded, see caller) edge sets driver-side: path-halving
    union-find, component = min member id. Returns (node, component)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for u, v in rows:
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        ru, rv = find(u), find(v)
        if ru != rv:
            # root at the smaller id so the root IS the component label
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    labels = [(n, find(n)) for n in parent]
    schema = T.StructType([
        T.StructField("node", T.LongType(), False),
        T.StructField("component", T.LongType(), False),
    ])
    return spark.createDataFrame(labels, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_finish_threshold: int = 250_000,
) -> DataFrame:
    """Duplicate-cluster labels from near-dup PAIRS: (node, component)
    where component = the minimum node id reachable through the pair graph.

    Alternating large-star / small-star contraction (the MapReduce
    connected-components algorithm of Kiveris et al.) — converges in
    O(log n) rounds regardless of chain length, each round two grouped
    aggregations + joins on the node key; no adjacency list is ever
    collected, so a 10^9-node dup graph runs in bounded executor memory.
    This is the step after minhash_dedup_pairs/embedding_neardup_pairs in
    a real dedup pipeline: clusters -> keep min-id canonical doc.

    `driver_finish_threshold`: once the (monotonically contracting) edge
    set is at most this many edges, the remainder is finished driver-side
    with union-find — bounded memory (250K edges = a few MB), same labels.
    Near-dup graphs are sparse relative to the corpus and each star round
    shrinks them, so small inputs skip the iteration entirely and large
    inputs save the tail rounds, where per-round scheduling overhead
    dwarfs the actual work. Same bounded-driver pattern as the IVF
    codebook (similarity.py); set 0 to force the fully distributed path.
    """
    e = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"),
            F.col(id_b).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )

    def _checksum(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v")).alias("h"),
        ).first()
        return row["n"], row["h"]

    def large_star(edges: DataFrame) -> DataFrame:
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.min("v").alias("__mn"))
        m = m.select("u", F.least("__mn", "u").alias("__m"))
        # no distinct here: small_star's final aggregation dedups, and the
        # grouped-min is insensitive to duplicate edges — one less shuffle
        # per round
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        )

    def small_star(edges: DataFrame) -> DataFrame:
        o = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = o.groupBy("u").agg(F.min("v").alias("__m"))
        kids = o.join(m, "u").select(F.col("v").alias("x"), F.col("__m"))
        selfs = m.select(F.col("u").alias("x"), F.col("__m"))
        return (
            kids.union(selfs)
            .filter(F.col("x") != F.col("__m"))
            .select(F.col("x").alias("u"), F.col("__m").alias("v"))
            .distinct()
        )

    # ONE action decides small-vs-distributed AND fetches the small
    # case's edges: a bounded limit(threshold+1) collect. If every edge
    # came back (len <= threshold) this IS the full edge set — limit
    # only drops rows beyond the bound — so the old count-action +
    # collect-action pair collapses into one driver round trip for the
    # common small-graph case (4 headline queries end in this path).
    # The distributed path pays one bounded (<= threshold+1 narrow
    # rows) probe read of the already-persisted frame, then proceeds
    # exactly as before.
    probe = e.select("u", "v").limit(driver_finish_threshold + 1).collect()
    if len(probe) <= driver_finish_threshold:
        labels = _driver_union_find(
            ((r["u"], r["v"]) for r in probe), e.sparkSession
        )
        e.unpersist()
        return labels
    prev_sum = _checksum(e)
    for _ in range(max_iter):
        if prev_sum[0] <= driver_finish_threshold:
            rows = e.select("u", "v").collect()
            labels = _driver_union_find(
                ((r["u"], r["v"]) for r in rows), e.sparkSession
            )
            release(e)
            return labels
        # localCheckpoint truncates the lineage each round — without it the
        # logical plan doubles per iteration and Catalyst re-optimization
        # cost explodes long before the data does (the standard iterative-
        # algorithm failure mode; on a cluster use checkpoint() on durable
        # storage for fault tolerance instead)
        nxt = small_star(large_star(e)).localCheckpoint(eager=True)
        cur_sum = _checksum(nxt)
        release(e)
        e = nxt
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # fixpoint edges are stars (node -> component root); roots label
    # themselves. The returned lazy frame reads the last round, so that
    # checkpoint stays; earlier rounds were released above.
    labels = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("v").alias("v"))
    )
    return labels.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
) -> DataFrame:
    """Cross-document duplicate-span fraction — the distributed
    approximation of ExactSubstr dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better": drop/flag verbatim
    spans repeated across the corpus). A doc's length-n token windows
    are hashed; a window is *duplicated* when the same hash occurs in
    ANY other document (within-doc repeats don't count — those are
    repetition_stats' job).

    Output per doc: ``n_windows``, ``dup_windows`` (count occurring
    elsewhere), ``dup_frac``. Docs shorter than n tokens report 0s.

    Scale shape: windows never leave their 52-bit hashes; the global
    per-hash doc-count is ONE groupBy on the hash key with map-side
    partial aggregation (two-level: (doc, hash) first, so a doc's
    internal repeats collapse before the global shuffle). No pairs are
    formed — cost is linear in corpus tokens, the known-heavy-but-flat
    shuffle every ExactSubstr-style pass pays.
    """
    from .text import _gram_stream, hash52, tokens

    base = df.select(F.col(id_col), tokens(text_col).alias("__w")).select(
        id_col, "__w", F.size("__w").alias("n_words")
    )
    win = _gram_stream(base, id_col, n).select(
        id_col, hash52(F.col("__gram")).alias("__h")
    )
    # (doc, hash) occurrence counts: collapses within-doc repeats so the
    # global doc-frequency agg below shuffles one row per (doc, hash)
    per_doc = win.groupBy(id_col, "__h").agg(
        F.count(F.lit(1)).alias("__occ")
    ).persist()
    docfreq = per_doc.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__docs")
    )
    flagged = per_doc.join(docfreq, "__h").groupBy(id_col).agg(
        F.sum("__occ").alias("n_windows"),
        F.sum(F.when(F.col("__docs") > 1, F.col("__occ")).otherwise(0)).alias(
            "dup_windows"
        ),
    )
    return (
        df.select(id_col)
        .join(flagged, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_windows"), F.lit(0)).alias("n_windows"),
            F.coalesce(F.col("dup_windows"), F.lit(0)).alias("dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_windows") > 0,
                F.col("dup_windows") / F.col("n_windows"),
            ).otherwise(F.lit(0.0)),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    out_col: str = "clean_text",
) -> DataFrame:
    """ExactSubstr-style duplicate-span REMOVAL (Lee et al.): where
    duplicate_span_stats only measures, this rewrites each document
    with every repeated length-``n`` token window cut out — except the
    corpus-wide canonical occurrence (lexicographically smallest
    (doc, position)), so exactly one copy of every duplicated span
    survives, like the suffix-array dedup pass a pretraining corpus
    gets before tokenization.

    Output: id, n_tokens, removed_tokens, ``out_col`` (the rebuilt
    text, original token order, duplicated spans dropped).

    Scale shape: windows travel as 52-bit hashes; the global
    canonical/count agg is ONE groupBy on the hash (map-side partials).
    Only occurrences of *duplicated* hashes flow into the doc-level
    regroup — the corpus' unique windows (the overwhelming majority)
    never leave stage one. Span coverage is resolved per doc with
    array expressions over the (small) list of removal starts; no
    token-level shuffle of the corpus.
    """
    from .text import _gram_stream, hash52, tokens

    base = df.select(
        F.col(id_col), tokens(text_col).alias("__w")
    ).select(id_col, "__w", F.size("__w").alias("n_words")).persist()
    # (id, pos, hash) occurrence stream — _gram_stream positions are
    # 1-based, matching element_at
    occ = (
        base.filter(F.size("__w") >= n)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(1), F.size("__w") - (n - 1))
            ).alias("__i"),
            "__w",
        )
        .select(
            id_col,
            F.col("__i").cast("long").alias("pos"),
            hash52(
                F.concat_ws(
                    " ", *[F.element_at("__w", F.col("__i") + j)
                           for j in range(n)]
                )
            ).alias("__h"),
        )
        # occ feeds the canonical/count agg AND the removals join —
        # without this the explode + n-token concat + md5 (the pass's
        # dominant cost) runs twice over the corpus. Three longs per
        # window, far narrower than the text it came from.
        .persist()
    )
    stats = occ.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
              ).alias("__can"),
    ).filter(F.col("__cnt") > 1)
    removals = (
        occ.join(stats, "__h")
        .filter(
            ~((F.col(id_col) == F.col("__can.i"))
              & (F.col("pos") == F.col("__can.p")))
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("__rm"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                "__rm", lambda s: F.sequence(s, s + F.lit(n - 1))
            )
        )
    )
    kept = F.filter(
        F.sequence(F.lit(1).cast("long"), F.size("__w").cast("long")),
        lambda p: ~F.array_contains(F.col("__cov"), p),
    )
    out = (
        base.join(removals, id_col, "left")
        .withColumn(
            "__cov",
            F.coalesce(covered, F.array().cast("array<bigint>")),
        )
        .select(
            id_col,
            F.col("n_words").alias("n_tokens"),
            F.size("__cov").alias("removed_tokens"),
            F.array_join(
                F.transform(kept, lambda p: F.element_at("__w", p.cast("int"))),
                " ",
            ).alias(out_col),
        )
    )
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Corpus-version diff by content fingerprint: classify every doc id
    as added / removed / changed / unchanged between two snapshots —
    the audit that gates an incremental re-train (only `added`+`changed`
    need re-processing; cf. sinks/maintenance.py merge_parquet for the
    apply side). One full-outer join on the id; fingerprints are the
    52-bit normalized-content hashes of exact_duplicates.

    Output: id, status, old_fingerprint, new_fingerprint.
    """
    from .text import fingerprint

    fo = fingerprint(old.select(id_col, text_col), text_col).select(
        id_col, F.col("fingerprint").alias("old_fingerprint")
    )
    fn = fingerprint(new.select(id_col, text_col), text_col).select(
        id_col, F.col("fingerprint").alias("new_fingerprint")
    )
    j = fo.join(fn, id_col, "full_outer")
    status = (
        F.when(F.col("old_fingerprint").isNull(), "added")
        .when(F.col("new_fingerprint").isNull(), "removed")
        .when(F.col("old_fingerprint") != F.col("new_fingerprint"),
              "changed")
        .otherwise("unchanged")
    )
    return j.select(
        id_col, status.alias("status"),
        "old_fingerprint", "new_fingerprint",
    )


# rows the source_overlap_matrix driver assembly may collect before
# dispatching to the distributed join form (sources^2 + sources rows;
# 2^17 covers ~500 sources — far past the operator's mixture-design use)
_OVERLAP_COLLECT_CAP = 1 << 17


def source_overlap_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
) -> DataFrame:
    """Cross-source content-overlap matrix: for every pair of sources
    (crawls, dumps, datasets), the Jaccard similarity between their
    DISTINCT n-gram shingle sets. The mixture-design companion to
    near-dup removal — two sources with high shingle Jaccard are
    near-copies of each other and double-count in training mixes; the
    matrix is what you weight (or drop) by before sampling.

    Scale shape: (source, shingle) distinct -> ONE groupBy(shingle)
    collecting the source set — each row bounded by #sources, never by
    corpus size — then source pairs expand IN-ROW from the sorted set
    (i<j index walk) and a final groupBy(pair) counts shared shingles.
    Two shuffles, zero joins on the shingle stream; the only join is
    the #sources-row size table, broadcast twice. A shingle seen in
    every source emits sources^2/2 pairs from one row — bounded state,
    unlike a shingle self-join which would shuffle the postings twice.

    Output: source_a, source_b, shared_shingles, n_a, n_b, jaccard
    (one row per unordered pair with any overlap).
    """
    sh = shingled_docs(_spread(df), id_col, text_col, n=n, carry=(group_col,))
    src_shingle = sh.select(group_col, F.explode("__sh").alias("__h"))
    # collect_set dedups (source, shingle) itself — no separate
    # distinct pass
    per_shingle = src_shingle.groupBy("__h").agg(
        F.array_sort(F.collect_set(group_col)).alias("__ss")
    )
    # ONE aggregation pass carries BOTH the pair counts and the
    # per-source sizes: each shingle row expands in-row to its source
    # PAIRS (i<j walk) plus one (source, NULL) marker per member, so a
    # single groupBy yields `shared_shingles` on the pair keys and the
    # per-source set sizes on the NULL rows. r9: the previous shape
    # persisted per_shingle because the size table and the pair
    # expansion were separate plan branches, then ran an extra eager
    # count to swap caches — two actions and a corpus-width persist for
    # a <= sources^2 result. Now the shingle stream is computed ONCE
    # inside ONE action, nothing is persisted, and the collected frame
    # is bounded by sources^2 + sources rows (the same #sources-bounded
    # driver pattern as mixture_rates). Jaccard is assembled driver-side
    # with the identical IEEE ops (exact long adds, one double divide),
    # so values match the old in-plan form bit-for-bit.
    ss = F.col("__ss")
    pair_structs = F.flatten(
        F.transform(
            ss,
            lambda x, i: F.transform(
                F.slice(ss, i + 2, F.size(ss)),
                lambda y: F.struct(
                    x.alias("source_a"), y.alias("source_b")
                ),
            ),
        )
    )
    # the NULL size-marker and the output columns keep the group
    # column's NATIVE type (int source ids stay ints — r10, was a
    # hardcoded string cast that silently coerced non-string sources)
    gtype = df.schema[group_col].dataType
    member_structs = F.transform(
        ss,
        lambda x: F.struct(
            x.alias("source_a"),
            F.lit(None).cast(gtype).alias("source_b"),
        ),
    )
    counted_df = (
        per_shingle.select(
            F.explode(F.concat(pair_structs, member_structs)).alias("__p")
        )
        .groupBy("__p.source_a", "__p.source_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    out_schema = T.StructType([
        T.StructField("source_a", gtype),
        T.StructField("source_b", gtype),
        T.StructField("shared_shingles", T.LongType()),
        T.StructField("n_a", T.LongType()),
        T.StructField("n_b", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ])
    # bounded limit-probe (the CC dispatch pattern): the collected
    # frame is sources^2 + sources rows for the operator's intended
    # few-sources use, but nothing used to stop a high-cardinality
    # group_col (URL domains, user ids) from OOMing the driver. If
    # every row comes back under the cap the probe IS the full set and
    # the driver assembly proceeds exactly as before; otherwise fall
    # back to the fully distributed join form (r10 guard). Persisted
    # BEFORE the probe so the fallback reads what the probe computed
    # (the partitions it cached, the shuffle output for the rest)
    # instead of running the aggregation a second time.
    cap = _OVERLAP_COLLECT_CAP
    counted_df = counted_df.persist()
    probe = counted_df.limit(cap + 1).collect()
    if len(probe) <= cap:
        counted_df.unpersist()
        sizes = {
            r["source_a"]: r["__c"] for r in probe if r["source_b"] is None
        }
        rows = []
        for r in probe:
            a, b = r["source_a"], r["source_b"]
            if b is None:
                continue
            shared, na, nb = r["__c"], sizes[a], sizes[b]
            # exact long arithmetic, then ONE double division — the same
            # shape (and therefore the same bits) as the old in-plan
            # shared / cast(n_a + n_b - shared as double)
            rows.append(
                (a, b, shared, na, nb, shared / float(na + nb - shared))
            )
        return df.sparkSession.createDataFrame(rows, out_schema)
    # distributed assembly: split the one aggregation's output into the
    # size rows and the pair rows, join sizes on per-side keys, and run
    # the IDENTICAL IEEE division in-plan. counted_df stays persisted:
    # the returned lazy frame reads it three times. Released by the
    # caller's/session's cache clear — the same lazy-return contract
    # as collocation_pmi and the other persisting kernels.
    sizes_df = counted_df.filter(F.col("source_b").isNull()).select(
        F.col("source_a").alias("__s"), F.col("__c").alias("__n")
    )
    pairs_df = counted_df.filter(F.col("source_b").isNotNull())
    joined = (
        pairs_df
        .join(
            sizes_df.withColumnRenamed("__s", "source_a")
            .withColumnRenamed("__n", "n_a"),
            "source_a",
        )
        .join(
            sizes_df.withColumnRenamed("__s", "source_b")
            .withColumnRenamed("__n", "n_b"),
            "source_b",
        )
    )
    return joined.select(
        "source_a", "source_b",
        F.col("__c").alias("shared_shingles"),
        "n_a", "n_b",
        (
            F.col("__c").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("__c")).cast("double")
        ).alias("jaccard"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every character k-gram of the normalized
    text, slide a window of `window` consecutive hashes, record the
    minimum of each window, keep the distinct set. Guarantees any
    shared substring of length >= k + window - 1 produces at least one
    shared fingerprint — positional overlap detection that MinHash
    (whole-doc similarity) and SimHash (global signature) can't give.

    Shape: one optional `_spread` repartition (skipped when the scan is
    already as wide as the cluster) — normalization, k-gram hashing,
    window minima and the distinct set are all in-row array expressions
    inside one stage; output rows stay one-per-document with a bounded
    fingerprint array (≤ #kgrams). Pair generation downstream is the
    same bucketed equi-join as every other fingerprint family here
    (explode -> groupBy fingerprint), never all-pairs.

    EVERY lambda in this pipeline is capture-free: k-grams are built by
    k-1 zip_with concat passes over shifted char arrays, and sliding
    minima by the sparse-table doubling trick (O(log window) zip_with
    passes) — never a per-position lambda that captures a computed
    column. Captured columns are a scale trap twice over: nested
    higher-order functions are interpreted, and BOTH CollapseProject
    and filter pushdown (e.g. the size()>0 filter
    InferFiltersFromGenerate plants under a downstream explode) happily
    substitute the producer INTO the lambda body, re-evaluating the
    whole normalization once per element — O(n^2) per row, observed as
    a 450s single-task spin at sf0.01 and an hours-long one at the 10x
    scale stress. Arrays in ARGUMENT position are evaluated once per
    expression eval no matter how the optimizer rewrites the plan.

    Output: id, n_kgrams, fingerprints (sorted distinct array<bigint>).
    """
    from .text import hash52, tokens

    if window < 1:
        raise ValueError("window must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    norm = F.concat_ws(" ", tokens(F.col(text_col)))
    chars = F.filter(
        F.split(norm, ""), lambda c: c != F.lit("")
    )

    def _shifted(arr: Column, s: int) -> Column:
        return F.slice(arr, 1 + s, F.greatest(F.size(arr) - s, F.lit(0)))

    # k-grams by left-to-right concat chaining: after pass j, element i
    # holds chars[i..i+j]; k-1 passes build every k-char substring.
    # zip_with null-pads the longer side, so the chained expression is
    # only ever referenced ONCE per pass (a size()+slice trim would
    # evaluate it twice per level — 2^k blowup interpreted); the null
    # tail is compacted away after hashing (hash52(null) is null).
    grams = F.col("__c")
    for j in range(1, k):
        grams = F.zip_with(
            grams, _shifted(F.col("__c"), j),
            lambda a, b: F.concat(a, b),
        )
    base = _spread(df).select(F.col(id_col), chars.alias("__c")).select(
        id_col,
        F.greatest(F.size("__c") - (k - 1), F.lit(0)).alias("__ng"),
        F.array_compact(F.transform(grams, hash52)).alias("__h"),
    )

    def _shift_min(arr: Column, s: int) -> Column:
        # min(arr[j], arr[j+s]) per position. zip_with null-pads the
        # tail; a null-PROPAGATING min keeps incomplete windows null so
        # one array_compact at the end trims them (least() would skip
        # nulls and leak partial-window minima). Keeping the chained
        # expression in argument position, referenced a constant number
        # of times, is what makes this safe under CollapseProject and
        # filter-pushdown substitution (see the k-gram chain above).
        return F.zip_with(
            arr,
            _shifted(arr, s),
            lambda a, b: F.when(
                a.isNull() | b.isNull(),
                F.lit(None).cast("bigint"),
            ).otherwise(F.least(a, b)),
        )

    # sparse-table range-min: m covers width 2^p after p doublings,
    # then one overlapped min() extends exact coverage to `window`.
    h = F.col("__h")
    covered, m = 1, h
    while covered * 2 <= window:
        m = _shift_min(m, covered)
        covered *= 2
    if covered < window:
        m = _shift_min(m, window - covered)
    # docs with 0 < ng < window get the classic single whole-doc window
    core = F.when(F.size(h) >= window, F.array_compact(m)).otherwise(
        F.array(F.array_min(h))
    )
    mins = F.when(
        F.col("__ng") > 0,
        F.array_sort(F.array_distinct(core)),
    ).otherwise(F.array().cast("array<bigint>"))
    return base.select(
        id_col,
        F.col("__ng").cast("long").alias("n_kgrams"),
        mins.alias("fingerprints"),
    )


def hamming_hash_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 56,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs over ANY integer fingerprint column (text SimHash,
    image dHash, audio fingerprints): candidates come from matching
    contiguous bit blocks (pigeonhole: hamming <= n_blocks-1 guarantees
    at least one identical block), then exact ``bit_count(xor)``
    verification. The self-join is an equi-join on (block index, block
    key) — per-bucket, never all-pairs — so shuffle volume is
    n_blocks rows per fingerprint regardless of corpus size.

    Generalizes simhash_pairs' inline blocking (kept for its public
    signature); reference has no fingerprint-family dedup at all
    (closest: pandas drop_duplicates in
    src/data_pipeline/utils/data_cleaner.py).

    Block layout: the `bits` positions split into n_blocks CONTIGUOUS
    near-equal blocks (edges floor(b*bits/n_blocks)), so every block is
    non-empty and intersects [0, bits) for ANY parameter combo — a
    uniform ceil width would push whole blocks past `bits` when
    (n_blocks-1)*ceil(bits/n_blocks) >= bits (e.g. bits=10, n_blocks=9),
    making their key 0 for every row and silently degenerating the
    candidate equi-join to all-pairs. n_blocks is clamped to `bits`;
    the pigeonhole guarantee needs n_blocks >= max_hamming+1 blocks, so
    max_hamming >= bits is rejected (every pair would match anyway).
    """
    n_blocks = n_blocks or (max_hamming + 1)
    if max_hamming >= bits:
        raise ValueError(
            f"max_hamming={max_hamming} >= bits={bits}: every pair is "
            "within the ball; blocking cannot bound candidates"
        )
    n_blocks = min(n_blocks, bits)
    if n_blocks < max_hamming + 1:
        raise ValueError(
            f"n_blocks={n_blocks} < max_hamming+1={max_hamming + 1}: "
            "pigeonhole recall guarantee would not hold"
        )
    edges = [b * bits // n_blocks for b in range(n_blocks + 1)]
    blocks = sig.select(
        id_col,
        hash_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("blk"),
                    F.shiftright(hash_col, edges[b])
                    .bitwiseAND(F.lit((1 << (edges[b + 1] - edges[b])) - 1))
                    .alias("key"),
                )
                for b in range(n_blocks)
            ])
        ).alias("bk"),
    ).select(id_col, hash_col, "bk.blk", "bk.key")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("sig_a"),
            F.col(f"b.{hash_col}").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def cross_corpus_neardup(
    train: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    n: int = 3,
    broadcast_reference: bool = True,
) -> DataFrame:
    """Flag training documents that NEAR-duplicate a reference corpus
    (held-out eval sets, benchmark dumps): the fuzzy complement to
    decontamination.py's exact n-gram scrub — paraphrased or lightly
    edited eval leakage survives exact n-grams but not shingle Jaccard.

    Shape: both corpora shingle + minhash once; the reference's band
    table is BROADCAST (eval sets are small by construction — the same
    asymmetry decontamination exploits), so candidates come from a
    map-side band-key equi-join, never train x reference; exact Jaccard
    verifies candidates on the full shingle sets. Set
    broadcast_reference=False when the reference is another full corpus.

    Output: one row per contaminated train doc —
    (id_col, ref_id, jaccard) with ref_id the best-matching reference
    doc (highest jaccard, ties to the lowest ref id).
    """
    tr = shingled_docs(_spread(train), id_col, text_col, n).persist()
    rf = shingled_docs(reference, id_col, text_col, n).persist()
    tr_sig = minhash_signature_select(tr, id_col)
    rf_sig = minhash_signature_select(rf, id_col)
    tb = band_keys(tr_sig, id_col)
    rb = band_keys(rf_sig, id_col)
    if broadcast_reference:
        rb = F.broadcast(rb)
    cand = (
        tb.alias("t")
        .join(
            rb.alias("r"),
            (F.col("t.band") == F.col("r.band"))
            & (F.col("t.key") == F.col("r.key")),
        )
        .select(
            F.col(f"t.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    verified = jaccard_verify(cand, tr, id_col, threshold, shingled_b=rf)
    # row_number over (jaccard desc, ref id asc) rather than a
    # max(struct(jaccard, -id)) trick: negation assumes numeric ids
    # (string ids would implicit-cast to double and null out), and the
    # window returns id_b UNCHANGED, preserving arbitrary id types.
    # Partitions are per contaminated train doc — bounded by that doc's
    # candidate count, never corpus-sized.
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(
        F.desc("jaccard"), F.asc("id_b")
    )
    best = (
        verified.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("ref_id"),
            "jaccard",
        )
    )
    return best


def canonical_by_quality(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Choose each near-dup cluster's canonical document by QUALITY
    rather than by minimum id: connected components over the verified
    pairs, then the highest-quality member (ties to the lowest id)
    represents the cluster. What real curation keeps — when ten crawls
    capture the same article, you want the cleanest capture, not the
    one that happened to get the smallest id.

    Shape: the CC rounds (bounded, see connected_components) plus ONE
    quality join on the node key and one window per component —
    components are near-dup clusters, so partition sizes are small by
    construction.

    Output: one row per clustered doc — (id_col, component,
    quality_col, keep) with keep marking the chosen canonical.
    """
    from pyspark.sql import Window

    labels = connected_components(pairs)
    q = quality.select(
        F.col(id_col).alias("node"), F.col(quality_col).alias("__q")
    )
    j = labels.join(q, "node")
    w = Window.partitionBy("component").orderBy(
        F.desc("__q"), F.asc("node")
    )
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .select(
            F.col("node").alias(id_col),
            "component",
            F.col("__q").alias(quality_col),
            (F.col("__rn") == 1).alias("keep"),
        )
    )


def soft_dedup_weights(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    alpha: float = 1.0,
    out_col: str = "weight",
) -> DataFrame:
    """SOFT deduplication: instead of dropping near-duplicates, assign
    every document a training weight 1 / |cluster|^alpha — the loss
    mass a duplicated piece of content contributes stays ~constant no
    matter how many crawls captured it. ``alpha`` interpolates between
    no dedup (0) and hard-dedup-equivalent total mass (1, the
    default); documents in no cluster keep weight 1.0. The standard
    gentle alternative when hard dedup would throw away quality signal
    (each capture may differ in boilerplate, OCR noise, or freshness)
    or distort the source mixture.

    Shape: the bounded connected-components rounds over the verified
    pairs, ONE groupBy(component) count (output = #clusters rows),
    and ONE left join back to the corpus on the id — the clustered
    subset is typically a small fraction of the corpus, and AQE
    broadcasts it when it fits. No window, no per-doc Python.

    alpha == 1.0 computes weight as an exact IEEE division
    (1.0 / size) rather than pow(size, -1.0), so an external SQL
    oracle replays the value bit-for-bit; other alphas go through
    pow with engine-dependent last-ulp semantics.

    Output: every docs row + (component — null when unclustered,
    ``out_col``).
    """
    return weights_from_labels(
        connected_components(pairs), docs, id_col, alpha, out_col
    )


def weights_from_labels(
    labels: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    alpha: float = 1.0,
    out_col: str = "weight",
) -> DataFrame:
    """Apply (node, component) cluster labels as 1/|cluster|^alpha soft-
    dedup weights over a corpus — the shared tail of soft_dedup_weights,
    also the read side of the streaming twin (a persisted label state
    maintained incrementally by streaming.soft_dedup_batch_fn applies to
    any corpus snapshot through this exact code, so stream == batch is
    pinned on the same expressions)."""
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("__csz")
    )
    lab = labels.join(sizes, "component").select(
        F.col("node").alias(id_col), "component", "__csz"
    )
    out = docs.join(lab, id_col, "left")
    sz = F.col("__csz").cast("double")
    if float(alpha) == 1.0:
        w = F.lit(1.0) / sz
    else:
        w = F.pow(sz, F.lit(-float(alpha)))
    return out.withColumn(
        out_col,
        F.when(F.col("__csz").isNull(), F.lit(1.0)).otherwise(w),
    ).drop("__csz")


def set_similarity_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float = 0.5,
    max_df: float | int | None = 0.05,
    min_df_cut: int = 5,
) -> DataFrame:
    """Generic set-similarity self-join over ANY array column — tag
    sets, entity mentions, precomputed shingle ids, cluster member
    lists — not just text: pairs with exact Jaccard >= ``threshold``.

    The machinery is the proven n-gram pipeline applied to the caller's
    own sets: elements are array_distinct-ed, candidates come from the
    df-cut inverted index (ngram_candidate_pairs — one hot element
    shared by 1% of 10^9 rows would otherwise emit ~10^14 candidate
    rows), and Jaccard is verified EXACTLY on the full sets, so the cut
    only loses pairs whose every shared element is ultra-common.
    Rows with empty/null sets never pair.

    Output: (id_a, id_b, jaccard), id_a < id_b.
    """
    sh = (
        df.select(
            id_col, F.array_distinct(F.col(set_col)).alias("__sh")
        )
        .filter(F.col("__sh").isNotNull() & (F.size("__sh") > 0))
        .persist()
    )
    cand = ngram_candidate_pairs(sh, id_col, max_df, min_df_cut)
    return jaccard_verify(cand, sh, id_col, threshold)
