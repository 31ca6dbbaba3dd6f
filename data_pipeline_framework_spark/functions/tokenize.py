"""Pluggable tokenization: learned-BPE token counting and encoding as
pure JVM column expressions.

Why this exists: every token-budget surface in the engine (token
counting, shard packing, context packing — `functions/sampling.py`)
defaulted to whitespace tokens, which over/under-estimates real BPE
budgets by ~1.3-1.5x. This module adds a LEARNED byte-pair-encoding
tokenizer with two interchangeable encode engines: the reference is a
chain of plain JVM string `replace` expressions with an exact
DuckDB-replayable SQL twin (`bpe_count_sql` / `bpe_tokens_sql`) so the
oracle gate can value-check it; above `ARROW_MERGE_THRESHOLD` merges
the default switches to an Arrow-batched per-distinct-word encode
(normalization stays JVM-side). For rank-priority-safe tables — every
table this module's trainers produce (`_table_safe`) — that encode is
`_encode_word_ranked`, whose cost is O(word_len^2) INDEPENDENT of
merge-table size, so the packaged 32,768-merge production vocabulary
(`merges_32k`, trained by tools/train_bpe_32k.py) encodes at the same
speed as the 48-merge one (measured 0.44 s vs 0.41 s at sf0.1); unsafe
user tables fall back to the sequential chained-replace spec per word.
All engines compute the identical encoding — pytests pin JVM==Arrow on
the packaged merges and ranked==sequential on the 32K table and on
randomized trained tables.

Tokenizer spec ("ranked-merge BPE", fully deterministic):

1. normalize: lowercase, collapse any run of chars outside [a-z0-9] to
   a single space, trim.
2. pre-tokenize: words are the space-separated runs; merges never
   cross a word boundary.
3. symbol stream: each word's characters, written as "(c)(c)(c)" —
   the parenthesis wrapping makes "adjacent whole tokens" a plain
   substring pattern, so merge application is string replace.
4. encode: for each learned merge (a, b) in rank order, ONE global
   leftmost-nonoverlapping replace of "(a)(b)" with "(ab)". This
   single-pass-per-merge discipline is applied identically at train
   and encode time, which makes the encoding well-defined without a
   priority queue — and replayable in any engine with `replace()`.
5. token count = number of '(' left in the stream.

Training (`train_bpe_merges`) is the classic frequency-greedy BPE loop
over a BOUNDED sample collected to the driver (tokenizer training on a
sample is standard practice; the cap keeps the driver safe at 100 TB).
Ties break deterministically (count desc, then pair lexicographic).

The generalization source for the surface is the reference's
whitespace/regex token counting (reference
transformations/feature_engineering.py:141-225); the learned-vocab
upgrade is the scale-path addition the training-data brief calls for.

External tokenizers (tiktoken / HuggingFace) plug in through
`PandasTokenizer`, an Arrow-batched pandas-UDF wrapper — import-gated,
no SQL twin (the oracle gate records those queries rows-only).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable, Iterable
from importlib import resources as _importlib_resources

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..performance.cache import release

__all__ = [
    "BPETokenizer",
    "PandasTokenizer",
    "WhitespaceTokenizer",
    "bpe_count_sql",
    "bpe_detokenize",
    "bpe_encode_ids",
    "bpe_token_count",
    "bpe_tokenize",
    "default_merges",
    "load_merges",
    "merges_32k",
    "save_merges",
    "train_bpe_merges",
    "train_bpe_merges_distributed",
    "train_bpe_merges_from_counts",
]

_NORM_RE = "[^a-z0-9]+"
_WRAP_RE = "([a-z0-9])"
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def _normalize(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), _NORM_RE, " "))


def _wrap(col: Column) -> Column:
    return F.regexp_replace(col, _WRAP_RE, "($1)")


def _apply_merges(col: Column, merges: list[tuple[str, str]]) -> Column:
    for a, b in merges:
        col = F.replace(col, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
    return col


def _stream(text_col: Column, merges: list[tuple[str, str]]) -> Column:
    return _apply_merges(_wrap(_normalize(text_col)), merges)


# merge-count threshold above which engine="auto" picks the Arrow-batched
# encode: each JVM merge is a FULL-STRING replace pass over the ~3x-expanded
# "(c)(c)" stream, so chained-replace cost grows linearly with merge count
# (a realistic 32k-merge vocab would scan the corpus 32k times), while the
# Arrow path encodes each DISTINCT word once per batch behind a cache —
# and, for safe tables, via the rank-priority algorithm whose per-word
# cost does not depend on vocab size at all. Measured crossover on the
# packaged 48-merge table at sf0.1: 2.2 s (JVM) vs ~0.4 s (Arrow); the
# 32,768-merge table measures 0.44 s, flat.
ARROW_MERGE_THRESHOLD = 16


def _encode_word(word: str, merges: tuple[tuple[str, str], ...]) -> str:
    """Python twin of the JVM chained-replace encode for ONE word:
    wrap chars as '(c)(c)', then one leftmost-nonoverlapping replace
    per merge in rank order — str.replace has exactly the semantics of
    Spark's `replace`, and merges never cross the word boundary, so
    per-word encoding equals whole-stream encoding. Cost is linear in
    merge count; the SPEC reference, not the production encode (see
    _word_tokens)."""
    s = "".join(f"({ch})" for ch in word)
    for a, b in merges:
        s = s.replace(f"({a})({b})", f"({a}{b})")
    return s


def _table_safe(merges: Iterable[tuple[str, str]]) -> bool:
    """True iff no merge's PRODUCT equals a multi-char OPERAND of an
    earlier merge. For such tables the sequential one-pass-per-merge
    spec equals rank-priority encoding (_encode_word_ranked): a pass
    for merge r can only become re-applicable if a LATER merge creates
    one of r's operands, which is exactly what this check rules out.
    Every table produced by this module's trainers is safe by
    construction (a merge's operands are tokens that already exist at
    its training round, and its product is new)."""
    ops_multi: set[str] = set()
    for a, b in merges:
        if a + b in ops_multi:
            return False
        if len(a) > 1:
            ops_multi.add(a)
        if len(b) > 1:
            ops_multi.add(b)
    return True


def _encode_word_ranked(
    word: str,
    merges: tuple[tuple[str, str], ...],
    ranks: dict[tuple[str, str], int],
) -> list[str]:
    """Rank-priority encode of ONE word: repeatedly find the
    lowest-rank merge whose pair is present and apply it to all
    leftmost-nonoverlapping occurrences. O(len(word)^2) and — the
    point — INDEPENDENT of merge-table size, so a 32K-merge production
    vocab encodes as fast as the packaged 48-merge one. Equals the
    sequential chained-replace spec whenever the table passes
    _table_safe (pytest pins the equivalence on trained tables and on
    random corpora)."""
    sym: list[str] = list(word)
    while len(sym) > 1:
        best = None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        a, b = merges[best]
        out: list[str] = []
        i = 0
        n = len(sym)
        while i < n:
            if i + 1 < n and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def _word_tokens(
    word: str,
    merges: tuple[tuple[str, str], ...],
    ranks: dict[tuple[str, str], int] | None,
) -> list[str]:
    """Token list for one word: the rank-priority fast path when the
    table is safe (ranks is not None), else the sequential spec."""
    if ranks is not None:
        return _encode_word_ranked(word, merges, ranks)
    enc = _encode_word(word, merges)
    return enc[1:-1].split(")(") if enc else []


class BPETokenizer:
    """Learned ranked-merge BPE over a merges table (list of (a, b)).

    `count_expr` / `tokens_expr` are column expressions; `count_sql` /
    `tokens_sql` emit the DuckDB twin for the same column so oracle
    queries can replay the exact encoding.

    Two encode engines computing the SAME function (the agreement is
    pytest-pinned on the packaged merges):

    * ``jvm`` — the chained-replace reference: one JVM string `replace`
      per merge, no Python anywhere. Cost scales with merge count.
    * ``arrow`` — normalization stays JVM-side (so both engines feed
      the merge stage identical [a-z0-9 ] strings), then an
      Arrow-batched pandas UDF encodes each DISTINCT word once per
      batch behind a cache. Flat in merge count; the default above
      ``ARROW_MERGE_THRESHOLD`` merges via ``engine="auto"``.
    """

    def __init__(
        self,
        merges: list[tuple[str, str]] | None = None,
        engine: str = "auto",
    ):
        self.merges = list(merges) if merges is not None else default_merges()
        for a, b in self.merges:
            if not a or not b or "(" in a + b or ")" in a + b:
                raise ValueError(f"invalid merge pair: {(a, b)!r}")
        if engine not in ("auto", "jvm", "arrow"):
            raise ValueError(f"unknown engine: {engine!r}")
        self.engine = engine
        self._vocab_cache: dict[str, int] | None = None
        self._inv_cache: dict[int, str] | None = None
        # rank-priority fast path (flat in merge count) is valid only
        # for safe tables; an unsafe user-supplied table falls back to
        # the sequential chained-replace spec per word. Duplicate pairs
        # keep their FIRST rank (later duplicates are no-ops).
        if _table_safe(self.merges):
            ranks: dict[tuple[str, str], int] = {}
            for i, p in enumerate(self.merges):
                ranks.setdefault((p[0], p[1]), i)
            self._ranks: dict[tuple[str, str], int] | None = ranks
        else:
            self._ranks = None

    @property
    def resolved_engine(self) -> str:
        if self.engine == "auto":
            return (
                "arrow"
                if len(self.merges) >= ARROW_MERGE_THRESHOLD
                else "jvm"
            )
        return self.engine

    def count_expr(self, col: Column | str) -> Column:
        if self.resolved_engine == "arrow":
            return self._count_expr_arrow(col)
        return self._count_expr_jvm(col)

    def tokens_expr(self, col: Column | str, with_sep: bool = False) -> Column:
        """Token array. ``with_sep=True`` keeps word boundaries as a
        literal " " token between words (space cannot collide with any
        real token — the alphabet is [a-z0-9]), which is what makes the
        id stream invertible: without it, decode cannot tell
        "the cat" from "thecat". Plain counts/packing keep the default
        (boundary tokens would inflate every count)."""
        if self.resolved_engine == "arrow":
            return self._tokens_expr_arrow(col, with_sep)
        return self._tokens_expr_jvm(col, with_sep)

    # ---- JVM chained-replace engine (the oracle-checked reference) ----

    def _count_expr_jvm(self, col: Column | str) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        s = _stream(c, self.merges)
        n = F.length(s) - F.length(F.replace(s, F.lit("("), F.lit("")))
        return F.coalesce(n, F.lit(0)).cast("long")

    def _tokens_expr_jvm(
        self, col: Column | str, with_sep: bool = False
    ) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        sep_repl = F.lit("( )") if with_sep else F.lit("")
        s = F.replace(_stream(c, self.merges), F.lit(" "), sep_repl)
        inner = F.regexp_replace(s, r"^\(|\)$", "")
        arr = F.split(inner, r"\)\(")
        return F.when(
            s.isNull() | (F.length(s) == 0), F.array().cast("array<string>")
        ).otherwise(arr)

    # ---- Arrow-batched engine (per-distinct-word cache) ----

    def _count_expr_arrow(self, col: Column | str) -> Column:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        merges = tuple(self.merges)
        ranks = self._ranks

        def _cnt(s):
            cache: dict[str, int] = {}

            def wc(w: str) -> int:
                n = cache.get(w)
                if n is None:
                    n = len(_word_tokens(w, merges, ranks))
                    cache[w] = n
                return n

            return s.map(
                lambda t: sum(wc(w) for w in t.split(" ")) if t else 0
            ).astype("int64")

        _cnt.__annotations__ = {"s": pd.Series, "return": pd.Series}
        c = F.col(col) if isinstance(col, str) else col
        return pandas_udf(_cnt, "long")(_normalize(c))

    def _tokens_expr_arrow(
        self, col: Column | str, with_sep: bool = False
    ) -> Column:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        merges = tuple(self.merges)
        ranks = self._ranks

        def _toks(s):
            cache: dict[str, list[str]] = {}

            def wt(w: str) -> list[str]:
                t = cache.get(w)
                if t is None:
                    t = _word_tokens(w, merges, ranks)
                    cache[w] = t
                return t

            def go(t):
                if not t:
                    return []
                out: list[str] = []
                for k, w in enumerate(t.split(" ")):
                    if with_sep and k:
                        out.append(" ")
                    out.extend(wt(w))
                return out

            return s.map(go)

        _toks.__annotations__ = {"s": pd.Series, "return": pd.Series}
        c = F.col(col) if isinstance(col, str) else col
        return pandas_udf(_toks, "array<string>")(_normalize(c))

    def vocab(self) -> dict[str, int]:
        """token -> id. Ids are stable for a fixed merges table: the
        base alphabet [a-z0-9] takes 0..35, then one id per merge
        product in rank order. Every encodable token is in the vocab
        (merges only ever produce concatenations of base chars)."""
        if getattr(self, "_vocab_cache", None) is None:
            out = {c: i for i, c in enumerate(_ALPHABET)}
            nxt = len(out)
            for a, b in self.merges:
                prod = a + b
                if prod not in out:
                    out[prod] = nxt
                    nxt += 1
            self._vocab_cache = out
        return self._vocab_cache

    @property
    def sep_id(self) -> int:
        """Id of the word-boundary token (the " " entry emitted by
        with_sep encodes): one past the largest real vocab id, so it
        can never collide with a token id for any merges table."""
        return len(self.vocab())

    def ids_expr(self, col: Column | str, with_sep: bool = False) -> Column:
        """Encode to int token ids. JVM engine: tokens_expr mapped
        through the vocab as a literal map — a narrow JVM projection
        (fine at the small-table sizes that engine serves). Arrow
        engine: ids come straight out of the per-distinct-word encode —
        a 32K-entry literal create_map would be a megabyte-scale
        expression tree, the dict lookup is free inside the UDF.
        ``with_sep=True`` emits ``sep_id`` between words, making the
        stream invertible by ``decode_expr``."""
        if self.resolved_engine == "arrow":
            return self._ids_expr_arrow(col, with_sep)
        v = dict(self.vocab())
        if with_sep:
            v[" "] = self.sep_id
        m = F.create_map(
            *[x for t, i in v.items() for x in (F.lit(t), F.lit(i))]
        )
        return F.transform(
            self.tokens_expr(col, with_sep),
            lambda t: F.coalesce(
                F.element_at(m, t), F.lit(-1)
            ).cast("int"),
        )

    def _ids_expr_arrow(
        self, col: Column | str, with_sep: bool = False
    ) -> Column:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        merges = tuple(self.merges)
        ranks = self._ranks
        vocab = self.vocab()
        sep = self.sep_id

        def _ids(s):
            cache: dict[str, list[int]] = {}

            def wi(w: str) -> list[int]:
                t = cache.get(w)
                if t is None:
                    t = [
                        vocab.get(tok, -1)
                        for tok in _word_tokens(w, merges, ranks)
                    ]
                    cache[w] = t
                return t

            def go(t):
                if not t:
                    return []
                out: list[int] = []
                for k, w in enumerate(t.split(" ")):
                    if with_sep and k:
                        out.append(sep)
                    out.extend(wi(w))
                return out

            return s.map(go)

        _ids.__annotations__ = {"s": pd.Series, "return": pd.Series}
        c = F.col(col) if isinstance(col, str) else col
        return pandas_udf(_ids, "array<int>")(_normalize(c))

    def decode_ids(self, ids) -> str | None:
        """Plain-Python inverse of a with_sep id stream: vocab lookup
        per id, ``sep_id`` -> " ", unknown ids -> U+FFFD. On ids
        produced by ``ids_expr(col, with_sep=True)`` this returns
        exactly the NORMALIZED text (lowercased, [^a-z0-9] runs
        collapsed to single spaces, trimmed) — the original casing and
        punctuation are not in the stream, by the tokenizer's own
        normalization contract."""
        if ids is None:
            return None
        inv = getattr(self, "_inv_cache", None)
        if inv is None:
            inv = {i: t for t, i in self.vocab().items()}
            self._inv_cache = inv
        sep = self.sep_id
        return "".join(
            " " if i == sep else inv.get(i, "�") for i in ids
        )

    def decode_expr(self, ids_col: Column | str) -> Column:
        """Column form of ``decode_ids``: array<int> -> string via an
        Arrow-batched pandas UDF (the inverse vocab rides the closure —
        never a 32K-entry literal map expression)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        inv = {i: t for t, i in self.vocab().items()}
        sep = self.sep_id

        def _dec(s):
            def go(ids):
                if ids is None:
                    return None
                return "".join(
                    " " if i == sep else inv.get(i, "�")
                    for i in ids
                )

            return s.map(go)

        _dec.__annotations__ = {"s": pd.Series, "return": pd.Series}
        c = F.col(ids_col) if isinstance(ids_col, str) else ids_col
        return pandas_udf(_dec, "string")(c)

    # ---- SQL twins (DuckDB dialect) ----

    def _stream_sql(self, col_sql: str) -> str:
        s = (
            f"regexp_replace(trim(regexp_replace(lower({col_sql}), "
            f"'{_NORM_RE}', ' ', 'g')), '{_WRAP_RE}', '(\\1)', 'g')"
        )
        for a, b in self.merges:
            s = f"replace({s}, '({a})({b})', '({a}{b})')"
        return s

    def count_sql(self, col_sql: str) -> str:
        s = self._stream_sql(col_sql)
        return (
            f"CAST(coalesce(length({s}) - "
            f"length(replace({s}, '(', '')), 0) AS BIGINT)"
        )


class WhitespaceTokenizer:
    """The engine's historical default: whitespace tokens."""

    def count_expr(self, col: Column | str) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        return F.size(F.array_remove(F.split(c, r"\s+"), "")).cast("long")

    def tokens_expr(self, col: Column | str) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        return F.array_remove(F.split(c, r"\s+"), "")

    def count_sql(self, col_sql: str) -> str:
        return (
            "CAST(len(list_filter(string_split_regex("
            f"{col_sql}, '\\s+'), x -> x <> '')) AS BIGINT)"
        )


class PandasTokenizer:
    """Arrow-batched external tokenizer hook (tiktoken / HuggingFace /
    sentencepiece). `encode` maps one string to a list of token ids or
    strings and runs inside a pandas UDF, one Arrow batch at a time —
    the sanctioned vectorized escape hatch, never row-at-a-time Python.

    The encoder object must be importable on executors (construct it
    lazily inside `encode` or pass a module-level function). No SQL
    twin: queries built on it are rows-only at the oracle gate.
    """

    def __init__(self, encode: Callable[[str], list]):
        self._encode = encode

    def count_expr(self, col: Column | str) -> Column:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        enc = self._encode

        def _count(s):
            return s.map(lambda t: len(enc(t)) if t is not None else 0)

        # concrete annotations: `from __future__ import annotations` would
        # stringify inline hints and break pandas_udf's signature probe
        _count.__annotations__ = {"s": pd.Series, "return": pd.Series}
        c = F.col(col) if isinstance(col, str) else col
        return pandas_udf(_count, "long")(c)

    def tokens_expr(self, col: Column | str) -> Column:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        enc = self._encode

        def _toks(s):
            return s.map(
                lambda t: [str(x) for x in enc(t)] if t is not None else []
            )

        _toks.__annotations__ = {"s": pd.Series, "return": pd.Series}
        c = F.col(col) if isinstance(col, str) else col
        return pandas_udf(_toks, "array<string>")(c)


# ---------------------------------------------------------------- training


def _merge_once(sym: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_bpe_merges_from_counts(
    words: Counter[str] | dict[str, int],
    n_merges: int,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Frequency-greedy BPE over a word-frequency table. Semantics are
    the classic loop — each round counts every adjacent symbol pair
    (overlaps included, weighted by word count), picks the best by
    (count desc, pair asc), and applies one leftmost-nonoverlapping
    merge pass — but implemented INCREMENTALLY so a production-size
    vocabulary (32K+ merges) trains in minutes, not days:

    * an inverted index pair -> {word ids containing it} restricts each
      round's update to the words the chosen pair actually touches,
    * pair counts are maintained by signed deltas from those words only,
    * the argmax is a lazy max-heap keyed (-count, pair) — stale
      entries (count changed since push) are discarded on pop, so the
      pop order realizes exactly the classic tie-break.

    A naive round is O(|vocab| * avg_len); this is O(touched words)
    per round, which for Zipfian text shrinks geometrically with rank.
    Output is IDENTICAL to the naive loop (pytest-pinned)."""
    import heapq

    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    syms: list[tuple[str, ...]] = []
    cnts: list[int] = []
    for w, c in words.items():
        if w:
            syms.append(tuple(w))
            cnts.append(int(c))

    pair_counts: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for wid, sym in enumerate(syms):
        c = cnts[wid]
        for p in zip(sym, sym[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            index.setdefault(p, set()).add(wid)
    heap = [(-n, p) for p, n in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negc:
                best = p
                break
        if best is None or pair_counts[best] < min_count:
            break
        merges.append(best)
        changed: set[tuple[str, str]] = set()
        for wid in list(index.get(best, ())):
            sym = syms[wid]
            c = cnts[wid]
            new = _merge_once(sym, *best)
            syms[wid] = new
            old_p = Counter(zip(sym, sym[1:]))
            new_p = Counter(zip(new, new[1:]))
            for p in old_p.keys() | new_p.keys():
                d = new_p.get(p, 0) - old_p.get(p, 0)
                if d:
                    pair_counts[p] = pair_counts.get(p, 0) + d * c
                    changed.add(p)
                if new_p.get(p, 0) == 0:
                    index.get(p, set()).discard(wid)
                elif old_p.get(p, 0) == 0:
                    index.setdefault(p, set()).add(wid)
        for p in changed:
            n = pair_counts.get(p, 0)
            if n > 0:
                heapq.heappush(heap, (-n, p))
            else:
                pair_counts.pop(p, None)
                index.pop(p, None)
    return merges


def train_bpe_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 96,
    max_train_docs: int = 10_000,
    order_col: str | None = None,
) -> list[tuple[str, str]]:
    """Frequency-greedy BPE training on a BOUNDED, deterministic sample
    (orderBy(order_col).limit(max_train_docs) — a TakeOrdered, so the
    sample and therefore the merges are stable across partitionings).
    Driver memory is bounded by the sample's word-frequency table, not
    the corpus. Ties break (count desc, pair asc). The greedy loop is
    the incremental train_bpe_merges_from_counts."""
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    sample = df.select(F.col(text_col).alias("__t"))
    if order_col is not None:
        sample = df.select(
            F.col(order_col).alias("__o"), F.col(text_col).alias("__t")
        ).orderBy("__o")
    rows = sample.select(
        _normalize(F.col("__t")).alias("__n")
    ).limit(max_train_docs).collect()

    words: Counter[str] = Counter()
    for r in rows:
        if r["__n"]:
            words.update(r["__n"].split(" "))
    return train_bpe_merges_from_counts(words, n_merges)


def train_bpe_merges_distributed(
    df: DataFrame,
    text_col: str,
    n_merges: int = 96,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Frequency-greedy BPE training over the FULL corpus as Spark
    rounds — the scale path next to train_bpe_merges' bounded driver
    sample. Pytest pins that both trainers produce the identical merges
    list when the sample covers the corpus.

    State is the distinct-WORD frequency table ((wrapped '(c)(c)'
    stream, count) — Zipf-bounded: distinct words, never corpus rows),
    computed once. Each round is:
      1. one groupBy over exploded adjacent-token pairs (each pair
         occurrence weighted by the word's count — including
         overlapping occurrences, exactly like the driver trainer),
      2. a 1-row argmax collect (count desc, pair lexicographic — the
         driver trainer's tie-break),
      3. one JVM string replace applying the merge (leftmost-
         nonoverlapping, the module's encode discipline), persisted so
         round t+1 scans the merged table, with round t's cache
         released (bounded executor storage).
    Driver memory is O(1) per round; at 100 TB the per-round shuffle is
    the distinct-pair table, not the corpus.
    """
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    words = (
        df.select(
            F.explode(
                F.split(_normalize(F.col(text_col)), " ")
            ).alias("__w")
        )
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(_wrap(F.col("__w")).alias("__s"), "__c")
    )
    words = words.persist()
    words.count()
    state = words
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        toks = F.split(
            F.regexp_replace(F.col("__s"), r"^\(|\)$", ""), r"\)\("
        )
        base = state.select(toks.alias("__t"), "__c").filter(
            F.size("__t") >= 2
        )
        pairs = base.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1), "
                    "i -> struct(element_at(__t, i) AS a, "
                    "element_at(__t, i + 1) AS b))"
                )
            ).alias("__p"),
            "__c",
        ).groupBy("__p.a", "__p.b").agg(F.sum("__c").alias("__n"))
        top = pairs.orderBy(
            F.desc("__n"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not top or top[0]["__n"] < min_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # localCheckpoint (eager), not persist: persist keeps the full
        # logical lineage, so round t's plan nests t InMemoryRelations
        # and Catalyst's re-analysis grows superlinearly — measured
        # 4.7 s for 8 rounds but 166 s for 16 on a 25-word table, all
        # of it driver-side planning (guide §3.3: very large plans make
        # planning itself the bottleneck; §5: localCheckpoint cuts
        # lineage when the intermediate is cheap to rebuild — a
        # distinct-word table is). Same rows, same storage behavior
        # (materialized now, previous round released below); the only
        # trade is losing recompute-on-executor-loss for state a
        # restarted trainer rebuilds anyway. 16 rounds: 166 -> ~7 s.
        nxt = state.select(
            F.replace(
                F.col("__s"), F.lit(f"({a})({b})"), F.lit(f"({a}{b})")
            ).alias("__s"),
            "__c",
        ).localCheckpoint(eager=True)
        release(state)
        state = nxt
    release(state)
    return merges


def save_merges(merges: Iterable[tuple[str, str]], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for a, b in merges:
            fh.write(f"{a} {b}\n")


def load_merges(path: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            a, b = line.split(" ")
            out.append((a, b))
    return out


def _packaged_merges(name: str) -> list[tuple[str, str]]:
    ref = _importlib_resources.files(
        "data_pipeline_framework_spark.resources"
    ).joinpath(name)
    out: list[tuple[str, str]] = []
    for line in ref.read_text(encoding="utf-8").splitlines():
        if not line or line.startswith("#"):
            continue
        a, b = line.split(" ")
        out.append((a, b))
    return out


def default_merges() -> list[tuple[str, str]]:
    """The packaged merges table (trained once on the sf0.001 documents
    sample by tools/train_bpe.py and committed as a resource)."""
    return _packaged_merges("bpe_merges.txt")


def merges_32k() -> list[tuple[str, str]]:
    """The packaged PRODUCTION-SCALE merges table: 32,768 merges trained
    by tools/train_bpe_32k.py on the public Python-stdlib + PySpark
    source corpus (~22M words, 262K distinct). Three orders of magnitude
    bigger than default_merges — the realistic-vocab regime where the
    rank-priority Arrow encode (flat in merge count) is the only viable
    engine; agreement with the sequential chained-replace spec is
    pytest-pinned on this exact table."""
    return _packaged_merges("bpe_merges_32k.txt")


# ------------------------------------------------------------ DataFrame API


def bpe_token_count(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]] | None = None,
    out_col: str = "n_bpe_tokens",
    engine: str = "auto",
) -> DataFrame:
    """Per-row learned-BPE token count as a single projection, no
    shuffle. engine="auto" picks the Arrow-batched per-distinct-word
    encode above ARROW_MERGE_THRESHOLD merges (flat in merge count) and
    the pure-JVM chained replace below it; both compute the identical
    count (pytest-pinned)."""
    tok = BPETokenizer(merges, engine=engine)
    return df.withColumn(out_col, tok.count_expr(text_col))


def bpe_tokenize(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]] | None = None,
    out_col: str = "bpe_tokens",
    engine: str = "auto",
) -> DataFrame:
    """Per-row learned-BPE token array (same engine dispatch as
    bpe_token_count)."""
    tok = BPETokenizer(merges, engine=engine)
    return df.withColumn(out_col, tok.tokens_expr(text_col))


def bpe_encode_ids(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]] | None = None,
    out_col: str = "bpe_ids",
    engine: str = "auto",
    with_sep: bool = True,
) -> DataFrame:
    """Per-row id stream (same engine dispatch). with_sep defaults to
    True here — an id stream a user intends to DECODE needs the word
    boundaries; the packing/count paths call ids_expr directly."""
    tok = BPETokenizer(merges, engine=engine)
    return df.withColumn(out_col, tok.ids_expr(text_col, with_sep))


def bpe_detokenize(
    df: DataFrame,
    ids_col: str,
    merges: list[tuple[str, str]] | None = None,
    out_col: str = "text_decoded",
) -> DataFrame:
    """Inverse of ``bpe_encode_ids``: id stream -> text. On with_sep
    streams, decode(encode(text)) == the tokenizer's NORMALIZED text
    (pytest-pinned on the 32K production table over the documents
    corpus); casing/punctuation are not in the stream by the
    normalization contract. The first thing a user inspecting packed
    shards reaches for — reads as one Arrow-batched projection, no
    shuffle, flat in vocab size (inverse vocab rides the closure)."""
    tok = BPETokenizer(merges)
    return df.withColumn(out_col, tok.decode_expr(ids_col))


def bpe_count_sql(
    col_sql: str, merges: list[tuple[str, str]] | None = None
) -> str:
    """DuckDB SQL expression computing the SAME count as
    BPETokenizer.count_expr — used by oracle_sql() twins."""
    return BPETokenizer(merges).count_sql(col_sql)


def bpe_stream_sql(
    col_sql: str, merges: list[tuple[str, str]] | None = None
) -> str:
    """DuckDB SQL expression for the merged '(tok)(tok)' stream — bind it
    once in a CTE and count with
    length(st) - length(replace(st, '(', ''))."""
    return BPETokenizer(merges)._stream_sql(col_sql)


def tokenizer_fertility(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Tokenizer fertility diagnostics per group (typically language or
    source): BPE tokens per whitespace word and characters per BPE
    token. The standard multilingual-pretraining health check — a
    tokenizer whose fertility explodes on some language wastes context
    length and skews the effective data mix for that language.

    One narrow projection (the BPE encode — engine-dispatched like
    bpe_token_count — + whitespace count + char length) feeding one
    tiny aggregation keyed on the
    group columns — output cardinality is the group count, so this is
    a single cheap pass even at 100 TB.

    Output per group: n_docs, n_words, n_bpe_tokens, n_chars,
    fertility (tokens/word), chars_per_token.
    """
    from .text import tokens as ws_tokens

    tok = BPETokenizer(merges, engine=engine)
    base = df.select(
        *group_cols,
        tok.count_expr(text_col).alias("__bpe"),
        F.size(ws_tokens(text_col)).alias("__w"),
        F.length(F.col(text_col)).alias("__c"),
    )
    return base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").alias("n_words"),
        F.sum("__bpe").alias("n_bpe_tokens"),
        F.sum("__c").alias("n_chars"),
        F.try_divide(F.sum("__bpe"), F.sum("__w")).alias("fertility"),
        F.try_divide(F.sum("__c"), F.sum("__bpe")).alias("chars_per_token"),
    )
