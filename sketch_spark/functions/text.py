"""Text primitives: Arrow-side tokenization + hashing for the sketch hot
path, and JVM-side (Catalyst-codegen'd) expressions for SQL-checkable
text analysis.

This module is the only one that knows what a token is: a maximal run
of non-whitespace, whitespace being the 29 code points of ``_WS_CLASS``.
The rule has three faces, and every other module takes its tokens from
one of them:

* Arrow: ``tokenize_batch`` (``utf8_split_whitespace``), under the
  sketch hot path and every executor-side operator;
* Catalyst: ``tokens_col`` / ``word_ngrams_col``;
* DuckDB: ``tokens_sql``, a SQL fragment for the oracles.

None of the faces ever yields an empty token; empty and
whitespace-only text has zero tokens.

The hot path mirrors the reference's fused scan->tokenize->hash loop
(src/sketch.cpp:98-171) as whole-batch ops: Arrow tokenizes, then
``core.hashing.hash_strings`` hashes every token occurrence once (the
compiled kernel of ``core/native.py``, numpy when none can be built)
and ``GramCounts`` counts.  Every operator hashes its tokens that way,
``tokenize_batch`` + ``hash_strings``; word n-grams reuse the token
hashes via one rolling combine (``_roll_ngrams``) — the Spark-native
analogue of the reference's incremental multi-length H3 chaining
(sketch.cpp:136-138, sketch_pipelined.cu:51-76).  No exploded token
rows ever materialize in the Spark plan (the anti-pattern SURVEY.md
§4.1 flags).  ``token_base``, ``hashes_from_base`` and
``token_hashes`` hash through a ``dictionary_encode`` instead; no
operator calls them, and they stay only for the benchmark probes and
as the tests' reference.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, functions as F

from ..core import native
from ..core.base import unique_with_counts
from ..core.hashing import hash_strings, mix_u64

_NGRAM_PRIME = np.uint64(0x9DDFEA08EB382D69)

# What ``utf8_split_whitespace`` splits on, as a regex class for the two
# SQL faces: Python's ``str.isspace`` set, i.e. the 25 Unicode
# White_Space code points plus U+001C-U+001F.  That is the separators
# (general category Z: U+0020, U+00A0, U+1680, U+2000-U+200A, U+2028,
# U+2029, U+202F, U+205F, U+3000) plus the controls U+0009-U+000D,
# U+001C-U+001F and U+0085.  Never ``\s``: Java's is ASCII-only and
# RE2's (DuckDB) also leaves out U+000B, so neither matches Arrow or the
# other.  Java regex and RE2 read ``\p{Z}`` and ``\x{...}`` alike;
# ``\p{Z}`` is one table lookup in Java, where the 19 separators spelled
# out as ranges made Catalyst's split about twice as slow.  It leans on
# each engine's Unicode tables, so tests/test_token_faces.py runs every
# code point through all three faces.
_WS_CLASS = r"\p{Z}\x{9}-\x{d}\x{1c}-\x{1f}\x{85}"
_WS_RUN = f"[{_WS_CLASS}]+"


def tokenize_batch(arr: pa.Array | pa.ChunkedArray) -> tuple[pa.Array, np.ndarray]:
    """Whitespace-tokenize a string array.

    Returns (flat token array, parent row index per token) — both
    vectorized Arrow kernels, no per-row Python.  Empty tokens (which
    ``utf8_split_whitespace`` emits for empty or whitespace-only rows)
    are dropped, with parents masked in lockstep so n-gram adjacency
    stays correct.  Null rows are treated as empty text (zero tokens)
    rather than dropped, so parent indices ALWAYS refer to original row
    positions — callers (minhash/simhash) index unfiltered doc_id
    arrays positionally and would mis-attribute every token after a
    dropped null row.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = pc.fill_null(arr, "") if arr.null_count else arr
    tokens = pc.utf8_split_whitespace(arr)
    flat = pc.list_flatten(tokens)
    parents = pc.list_parent_indices(tokens)
    mask = pc.not_equal(flat, "")
    if not pc.all(mask).as_py():
        flat = flat.filter(mask)
        parents = parents.filter(mask)
    return flat, parents.to_numpy(zero_copy_only=False)


def token_base(
    arr: pa.Array | pa.ChunkedArray, seed: int, lowercase: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(distinct-token hashes, dictionary index per occurrence, parent
    rows): one tokenize, one ``dictionary_encode`` and one hash of the
    distinct tokens.  No operator hashes through it any more (every
    caller hashes occurrences with ``hash_strings``); it stays for the
    ``text.tokenize_s`` / ``hashing.ngram_s`` benchmark probes and as
    an independent reference in the tests.
    """
    flat, parents = _tokens(arr, lowercase)
    d = pc.dictionary_encode(flat)
    idx = d.indices.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    return hash_strings(d.dictionary, seed=seed), idx, parents


def _tokens(arr: pa.Array | pa.ChunkedArray, lowercase: bool) -> tuple[pa.Array, np.ndarray]:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if lowercase:
        arr = pc.utf8_lower(arr)
    return tokenize_batch(arr)


def hashes_from_base(
    base: tuple[np.ndarray, np.ndarray, np.ndarray], ngram: int
) -> np.ndarray:
    """Per-occurrence (n-gram) hashes from a ``token_base``: the rolling
    combine over the gathered unigram hashes.  Like ``token_base``, only
    the benchmark probes and the tests call it."""
    hd, idx, parents = base
    return _gram_keys(hd[idx], parents, ngram)


def _roll_ngrams(
    h: np.ndarray, parents: np.ndarray, ngram: int
) -> tuple[np.ndarray, np.ndarray]:
    """(key per start position, same-row mask) of the order-``ngram``
    grams over per-occurrence token hashes ``h``: the rolling combine
    every n-gram hash in the package is made of (``native.gram_counts``
    is its compiled twin).  A gram is real only where the mask holds,
    i.e. its first and last token share a row; fewer than ``ngram``
    tokens give two empty arrays."""
    m = max(len(h) - ngram + 1, 0)
    combined = h[:m].copy()
    for j in range(1, ngram):
        combined = mix_u64(combined * _NGRAM_PRIME ^ h[j : m + j], np.uint64(j))
    return combined, parents[:m] == parents[ngram - 1 : ngram - 1 + m]


def _gram_keys(h: np.ndarray, parents: np.ndarray, ngram: int) -> np.ndarray:
    """The order-``ngram`` key of every in-row gram occurrence."""
    if ngram <= 1:
        return h
    keys, same_row = _roll_ngrams(h, parents, ngram)
    return keys[same_row]


class GramCounts:
    """(distinct key, count) per n-gram order for one batch of texts —
    the input of every hashed sketch in ``SketchSpec.feed``'s tokens
    mode, tokenized and hashed once and derived lazily per order.

    Every order, unigrams included, comes from one per-occurrence
    ``hash_strings`` array.  ``native.gram_counts`` rolls the n-gram
    combine and sums equal keys in one pass; without the compiled
    kernels ``unique_with_counts`` sums the same rolled keys.  Counts
    are summed per 64-bit key, so two token strings sharing a hash
    count as one key.  Key order differs between the paths, which no
    sketch update can observe.
    """

    def __init__(self, arr: pa.Array | pa.ChunkedArray, seed: int, lowercase: bool = False):
        flat, self._parents = _tokens(arr, lowercase)
        self._hashes = hash_strings(flat, seed=seed)
        self._orders: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def counts(self, ngram: int = 1) -> tuple[np.ndarray, np.ndarray]:
        """(distinct uint64 keys, int64 occurrence counts) of the order-``ngram`` grams."""
        if ngram not in self._orders:
            got = native.gram_counts(self._hashes, self._parents, ngram)
            if got is None:
                got = unique_with_counts(_gram_keys(self._hashes, self._parents, ngram))
            self._orders[ngram] = got
        return self._orders[ngram]


def token_hashes(
    arr: pa.Array | pa.ChunkedArray,
    seed: int,
    ngram: int = 1,
    lowercase: bool = False,
) -> np.ndarray:
    """uint64 hash per token (or word n-gram) of every row, flattened,
    through ``token_base``'s dictionary path: the tests' reference for
    the per-occurrence keys every operator derives from
    ``hash_strings``.  N-grams never cross row boundaries (a page is
    the tokenization unit — FIXTURES.md §1)."""
    return hashes_from_base(token_base(arr, seed, lowercase), ngram)


def ngram_occurrences(
    arr: pa.Array | pa.ChunkedArray,
    seed: int,
    ngram: int,
    lowercase: bool = False,
) -> tuple[np.ndarray, pa.Array]:
    """(rolling n-gram hashes, space-joined n-gram strings), aligned
    per occurrence.  Hashes are the sketch-build keys (``GramCounts``)
    exactly; strings are built vectorized with
    ``binary_join_element_wise``.
    """
    flat, parents = _tokens(arr, lowercase)
    n = len(flat)
    if n == 0 or n < ngram:
        return np.empty(0, dtype=np.uint64), pa.array([], type=pa.string())
    h = hash_strings(flat, seed=seed)
    if ngram == 1:
        return h, flat
    keys, same_row = _roll_ngrams(h, parents, ngram)
    return keys[same_row], _gram_strings(flat, np.flatnonzero(same_row), ngram)


def _gram_strings(flat: pa.Array, starts: np.ndarray, ngram: int) -> pa.Array:
    """The space-joined order-``ngram`` gram of ``flat`` tokens starting
    at each index of ``starts``."""
    if ngram <= 1:
        return flat.take(starts)
    sep = pa.scalar(" ", flat.type)  # a plain " " fails on large_string tokens
    return pc.binary_join_element_wise(*[flat.take(starts + j) for j in range(ngram)], sep)


def ngram_count_df(
    df,
    text_col: str = "text",
    n: int = 2,
    lowercase: bool = False,
    min_count: int | None = None,
    out_col: str | None = None,
):
    """Exact word n-gram counts as a DataFrame (out_col, cnt) via Arrow
    map-side combine: each partition tokenizes with the vectorized
    kernels, value-counts its grams, and folds batches with one Arrow
    ``group_by`` — the shuffle then carries per-partition UNIQUE grams
    (vocab-scale), not per-occurrence rows.  ~6x faster than the
    codegen explode+hash-agg on Zipf text (BENCH.md) and the identical
    exact semantics (the DuckDB oracle is unchanged).
    """
    from pyspark.sql import functions as F  # noqa: F811 (module-level F is fine)

    out_col = out_col or ("token" if n == 1 else f"ngram{n}")

    def run(batches):
        parts = []
        for b in batches:
            _, strs = ngram_occurrences(b.column(0), seed=1, ngram=n, lowercase=lowercase)
            if len(strs) == 0:
                continue
            vc = strs.value_counts()
            parts.append(
                pa.table({"g": vc.field("values"), "c": vc.field("counts").cast(pa.int64())})
            )
        if not parts:
            yield pa.RecordBatch.from_pydict(
                {out_col: pa.array([], pa.string()), "cnt": pa.array([], pa.int64())}
            )
            return
        t = (
            pa.concat_tables(parts)
            .group_by("g")
            .aggregate([("c", "sum")])
            .rename_columns([out_col, "cnt"])
        )
        yield from t.to_batches()

    from ..operators.aggregate import ensure_min_partitions

    partial = ensure_min_partitions(df.select(text_col)).mapInArrow(run, f"{out_col} string, cnt long")
    out = partial.groupBy(out_col).agg(F.sum("cnt").alias("cnt"))
    if min_count is not None:
        out = out.filter(F.col("cnt") >= min_count)
    return out


# ---------------------------------------------------------------------------
# JVM-side (codegen'd) expressions — used by SQL-oracle-checkable queries
# ---------------------------------------------------------------------------

def tokens_col(text: str | Column, lowercase: bool = False) -> Column:
    """Token array as a Catalyst expression (stays JVM-side): the same
    tokens as ``tokenize_batch``; NULL text gives NULL."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.array_remove(F.split(c, _WS_RUN), "")


def tokens_sql(expr: str, lowercase: bool = False) -> str:
    """DuckDB SQL fragment for the token list of ``expr``: the same
    tokens as ``tokens_col``; NULL text gives NULL."""
    if lowercase:
        expr = f"lower({expr})"
    return f"list_filter(regexp_split_to_array({expr}, '{_WS_RUN}'), x -> x <> '')"


def word_ngrams_col(text: str | Column, n: int, lowercase: bool = False) -> Column:
    """Word n-gram strings as a Catalyst expression (space-joined).

    Built as a zip_with chain — g_k = zip_with(g_{k-1},
    slice(tokens, k, INF), concat) — NOT as transform(sequence(...),
    i -> slice(tokens, i, n)): Catalyst does not CSE an outer
    expression referenced inside a higher-order-function lambda, so
    the transform form re-evaluates the whole tokenize per ELEMENT —
    O(tokens^2) per row (measured 10x on 1100-token organic pages;
    invisible on the short sf fixtures).  The chain references the
    tokenize O(n) times per ROW, each g_k exactly once (no
    exponential re-evaluation — the winnow doubling lesson), and
    zip_with's null padding on the shorter slice null-propagates
    through concat so the trailing partial grams vanish in the final
    slice.  Guarded for rows with fewer than ``n`` tokens.
    """
    toks = tokens_col(text, lowercase)
    if n == 1:
        return toks
    big = F.lit(1 << 30)
    grams = toks
    for k in range(2, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(toks, k, big),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.slice(grams, 1, F.size(toks) - F.lit(n - 1))
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


_BPE_ISH_PATTERN = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CLASS}]"


def bpe_ish_tokens_col(text: str | Column) -> Column:
    """Subword-ish tokenization as a Catalyst expression: runs of
    letters, runs of digits, and single punctuation marks — the
    BPE-style pre-tokenization split (GPT-2's pattern family,
    simplified to a regex whose semantics are identical in Java regex
    and RE2 so the DuckDB oracle matches byte-for-byte).  Token counts
    over this are the LLM-pipeline "how many tokens is this corpus"
    estimator that whitespace counting understates on punctuated text.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(_BPE_ISH_PATTERN), 0)


def bpe_ish_tokens_sql(expr: str) -> str:
    """DuckDB expression computing exactly ``bpe_ish_tokens_col``."""
    return f"regexp_extract_all({expr}, '{_BPE_ISH_PATTERN}')"


def winnow_fingerprints_col(
    text: str | Column, k: int = 3, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm) as a pure Catalyst expression: hash every word
    k-gram, slide a ``window`` over the hash sequence, keep each
    window's minimum, dedupe.  Guarantees every shared substring of at
    least k+window-1 words produces a shared fingerprint — the
    rolling-hash fingerprint family for plagiarism/near-dup detection.

    The hash is ``md5`` of the space-joined gram so the DuckDB oracle
    can reproduce fingerprints exactly; per-doc work is
    O(tokens log window), whole-stage codegen'd, no shuffle until the
    caller aggregates.  Docs with fewer than ``window`` grams
    contribute min-of-all (the standard short-document degeneration);
    gram-less docs are empty.

    The sliding-window min uses zip_with doubling (sparse table /
    binary-lifting): per-row arrays combine in O(log window) zip_with
    steps whose ARGUMENTS evaluate once per row.  The naive
    ``transform(sequence(...), i -> array_min(slice(hashes, i, w)))``
    re-evaluates the whole gram/md5 pipeline inside the lambda for
    every window index (Catalyst does not CSE across lambda bodies) —
    measured 3.5x slower at 500 docs and super-linear in doc length.
    Tail positions of intermediate levels see null-padded partners
    (``least`` skips nulls), but only positions 1..n-window+1 survive
    the final slice, and those windows are complete.
    """
    grams = word_ngrams_col(text, k)
    hashes = F.transform(grams, lambda g: F.md5(g))
    n = F.size(hashes)
    big = F.lit(1 << 30)
    s = hashes
    span = 1
    while span * 2 <= window:
        s = F.zip_with(s, F.slice(s, span + 1, big), lambda a, b: F.least(a, b))
        span *= 2
    if span < window:
        s = F.zip_with(
            s, F.slice(s, window - span + 1, big), lambda a, b: F.least(a, b)
        )
    windows = F.slice(s, 1, F.greatest(n - F.lit(window - 1), F.lit(0)))
    short = F.when(n > 0, F.array(F.array_min(hashes))).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(F.when(n >= window, windows).otherwise(short))


def quality_columns(text: str | Column) -> dict[str, Column]:
    """Deterministic quality-scoring signals, all pure Catalyst
    expressions (whole-stage codegen; identical semantics in ANSI SQL
    for the DuckDB oracle)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens_col(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": _guarded(n_tokens, (n_chars - (n_tokens - F.lit(1))) / n_tokens),
        "n_distinct_tokens": n_distinct.cast("long"),
        "distinct_ratio": _guarded(n_tokens, n_distinct / n_tokens),
    }


def quality_sql(expr: str) -> dict[str, str]:
    """DuckDB expressions computing exactly ``quality_columns``."""
    toks = tokens_sql(expr)
    n, nd = f"len({toks})", f"len(list_distinct({toks}))"
    return {
        "n_chars": f"CAST(length({expr}) AS BIGINT)",
        "n_tokens": f"CAST({n} AS BIGINT)",
        "avg_token_len": _guarded_sql(n, f"(length({expr}) - ({n} - 1)) / CAST({n} AS DOUBLE)"),
        "n_distinct_tokens": f"CAST({nd} AS BIGINT)",
        "distinct_ratio": _guarded_sql(n, f"{nd} / CAST({n} AS DOUBLE)"),
    }


def _guarded(den: Column, ratio: Column) -> Column:
    """``ratio`` rounded to 4 places, or 0.0 unless its denominator
    ``den`` is positive: zero-token text would otherwise divide by zero,
    which Spark's ANSI mode raises.  ``_guarded_sql`` is the DuckDB twin."""
    return F.round(F.when(den > 0, ratio).otherwise(F.lit(0.0)), 4)


def _guarded_sql(den: str, ratio: str) -> str:
    return f"round(CASE WHEN {den} > 0 THEN {ratio} ELSE 0.0 END, 4)"


_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on with as at by"
).split()


def punct_ratio_col(text: str | Column) -> Column:
    """Punctuation-character ratio (chars that are neither ASCII
    letters, digits nor whitespace, over all chars) — the remaining
    quality signal of the brief's length/punct/stopword trio, pure
    Catalyst and SQL-identical."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(F.regexp_replace(c, rf"[A-Za-z0-9{_WS_CLASS}]", ""))
    return F.round(n_punct / F.greatest(F.length(c), F.lit(1)), 4)


def punct_ratio_sql(expr: str) -> str:
    """DuckDB expression computing exactly ``punct_ratio_col``."""
    return (
        f"round(length(regexp_replace({expr}, '[A-Za-z0-9{_WS_CLASS}]', '', 'g'))"
        f" / CAST(greatest(length({expr}), 1) AS DOUBLE), 4)"
    )


def stopword_ratio_col(text: str | Column) -> Column:
    """Distinct stopwords over distinct lowercased tokens."""
    toks = tokens_col(text, lowercase=True)
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.array_intersect(toks, stop))
    n_distinct = F.size(F.array_distinct(toks))
    return _guarded(n_distinct, n_stop / n_distinct)


def stopword_ratio_sql(expr: str) -> str:
    """DuckDB expression computing exactly ``stopword_ratio_col``."""
    toks = f"list_distinct({tokens_sql(expr, lowercase=True)})"
    stop = ", ".join(f"'{w}'" for w in _STOPWORDS)
    n = f"len({toks})"
    return _guarded_sql(n, f"len(list_intersect({toks}, [{stop}])) / CAST({n} AS DOUBLE)")


def repetition_columns(text: str | Column, ns: tuple[int, ...] = (2, 3)) -> dict[str, Column]:
    """Gopher-style repetition filters (Rae et al. 2021, appx. A1.1):
    duplicate-token fraction, duplicate word-n-gram fractions, and the
    fraction of tokens taken by the single most frequent token.  The
    repetition family is the standard "remove boilerplate / templated
    junk" gate in LLM data pipelines.

    All pure Catalyst, one pass per row, no shuffle: distinct fractions
    via ``array_distinct``; the top-token count via a single-pass
    max-run ``aggregate`` over the sorted token array (O(n log n) sort
    + O(n) scan per row, whole-stage codegen — NOT a per-token explode
    + groupBy, which would shuffle the token stream at corpus scale).
    """
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    out: dict[str, Column] = {
        "dup_token_ratio": _guarded(
            n_tokens, F.lit(1.0) - F.size(F.array_distinct(toks)) / n_tokens
        ),
    }
    for n in ns:
        grams = word_ngrams_col(text, n)
        ng = F.size(grams)
        out[f"dup_{n}gram_ratio"] = _guarded(
            ng, F.lit(1.0) - F.size(F.array_distinct(grams)) / ng
        )
    srt = F.sort_array(toks)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    max_run = F.aggregate(srt, init, _step, lambda acc: acc["best"])
    out["top_token_ratio"] = _guarded(n_tokens, max_run / n_tokens)
    return out


def repetition_sql(
    table_expr: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    where: str = "",
) -> str:
    """DuckDB SQL computing exactly ``repetition_columns`` per row
    (ns=(2,3)); list comprehensions build the gram lists, an
    unnest+group-by pair computes the per-doc mode count (LEFT-joined
    back, so zero-token rows stay)."""
    return f"""
        WITH base AS (
          SELECT {id_col}, {tokens_sql(text_col)} AS toks
          FROM {table_expr}{where}
        ), grams AS (
          SELECT {id_col}, toks,
                 [toks[i] || ' ' || toks[i+1] FOR i IN generate_series(1, len(toks)-1)] AS bg,
                 [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                  FOR i IN generate_series(1, len(toks)-2)] AS tg
          FROM base
        ), tc AS (
          SELECT {id_col}, tok, count(*) AS c
          FROM (SELECT {id_col}, unnest(toks) AS tok FROM base)
          GROUP BY 1, 2
        ), top AS (
          SELECT {id_col}, max(c) AS mx, sum(c) AS n FROM tc GROUP BY 1
        )
        SELECT g.{id_col},
               {_guarded_sql("len(g.toks)", _dup_ratio_sql("g.toks"))} AS dup_token_ratio,
               {_guarded_sql("len(g.bg)", _dup_ratio_sql("g.bg"))} AS dup_2gram_ratio,
               {_guarded_sql("len(g.tg)", _dup_ratio_sql("g.tg"))} AS dup_3gram_ratio,
               {_guarded_sql("len(g.toks)", "top.mx / CAST(top.n AS DOUBLE)")} AS top_token_ratio
        FROM grams g LEFT JOIN top ON g.{id_col} = top.{id_col}
    """


def _dup_ratio_sql(xs: str) -> str:
    return f"1.0 - len(list_distinct({xs})) / CAST(len({xs}) AS DOUBLE)"


# marker-word language ID: a deterministic n-gram-free heuristic whose
# semantics are expressible identically in ANSI SQL (oracle-checkable);
# real corpora would swap in a larger marker table, same plan shape
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "des", "et", "est"],
}


def lang_scores(text: str | Column) -> dict[str, Column]:
    toks = F.array_distinct(tokens_col(text, lowercase=True))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id_col(text: str | Column) -> Column:
    """argmax of marker-word hits with fixed precedence en>es>de>fr;
    'und' when no marker matches."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    out = F.lit("und")
    # build CASE from lowest to highest precedence so en wins ties
    for lang in ["fr", "de", "es", "en"]:
        out = F.when((s[lang] > 0) & (s[lang] == best), F.lit(lang)).otherwise(out)
    return out


def lang_id_sql(table_expr: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB SQL computing exactly ``lang_id_col`` per row."""
    score_exprs = []
    for lang, words in LANG_MARKERS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(
            f"len(list_intersect(list_distinct({tokens_sql(text_col, lowercase=True)}), [{arr}])) AS s_{lang}"
        )
    cases = []
    for lang in ["en", "es", "de", "fr"]:
        others = [f"s_{lang} >= s_{o}" for o in LANG_MARKERS if o != lang]
        cases.append(f"WHEN s_{lang} > 0 AND {' AND '.join(others)} THEN '{lang}'")
    return f"""
        SELECT {id_col}, CASE {' '.join(cases)} ELSE 'und' END AS lang_pred
        FROM (SELECT {id_col}, {', '.join(score_exprs)} FROM {table_expr})
    """


# char-n-gram language ID: the brief's "n-gram heuristic" variant —
# frequency of characteristic character trigrams instead of whole
# marker words; robust to missing spaces/concatenations, and still a
# pure Catalyst expression with an exact SQL mirror
LANG_CHAR_TRIGRAMS: dict[str, list[str]] = {
    "en": [" th", "he ", "ing", " an"],
    "es": [" de", " la", "os ", " qu"],
    "de": ["er ", " de", "ie ", "ch "],
    "fr": [" le", "es ", " et", "nt "],
}


def _count_occurrences(c: Column, sub: str) -> Column:
    return (F.length(c) - F.length(F.replace(c, F.lit(sub), F.lit("")))) / len(sub)


def lang_ngram_scores(text: str | Column) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    c = F.concat(F.lit(" "), F.lower(c), F.lit(" "))  # pad so edge grams match
    return {
        lang: sum(
            (_count_occurrences(c, t) for t in tris), F.lit(0)
        ).cast("long")
        for lang, tris in LANG_CHAR_TRIGRAMS.items()
    }


def lang_id_ngram_col(text: str | Column) -> Column:
    """argmax of char-trigram hit counts, precedence en>es>de>fr on
    ties; 'und' when nothing matches — same decision shape as
    ``lang_id_col`` with n-gram evidence instead of word markers."""
    s = lang_ngram_scores(text)
    best = F.greatest(*s.values())
    out = F.lit("und")
    for lang in ["fr", "de", "es", "en"]:
        out = F.when((s[lang] > 0) & (s[lang] == best), F.lit(lang)).otherwise(out)
    return out


def lang_id_ngram_sql(
    table_expr: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB SQL computing exactly ``lang_id_ngram_col`` per row."""
    padded = f"' ' || lower({text_col}) || ' '"
    score_exprs = []
    for lang, tris in LANG_CHAR_TRIGRAMS.items():
        terms = [
            f"(length({padded}) - length(replace({padded}, '{t}', ''))) / {len(t)}"
            for t in tris
        ]
        score_exprs.append(f"CAST({' + '.join(terms)} AS BIGINT) AS s_{lang}")
    cases = []
    for lang in ["en", "es", "de", "fr"]:
        others = [f"s_{lang} >= s_{o}" for o in LANG_CHAR_TRIGRAMS if o != lang]
        cases.append(f"WHEN s_{lang} > 0 AND {' AND '.join(others)} THEN '{lang}'")
    return f"""
        SELECT {id_col}, CASE {' '.join(cases)} ELSE 'und' END AS lang_pred
        FROM (SELECT {id_col}, {', '.join(score_exprs)} FROM {table_expr})
    """


def simhash_md5_col(text: str | Column, bits: int = 48) -> Column:
    """SQL-expressible SimHash fingerprint (pure Catalyst, no Python):
    distinct whitespace tokens vote with md5-derived bits.

    This is the ORACLE variant of the simhash family (VERDICT r2 #10):
    the fast production path (operators/dedup.py simhash_fingerprints)
    uses a custom numpy hash family and is rows-only in the contract;
    this md5 variant computes the same algorithm with a hash DuckDB can
    reproduce exactly (CAST('0x'||substr(md5(tok),1,bits/4) AS UBIGINT)),
    giving the family a hash-green driver row.

    ``bits`` <= 48 keeps every intermediate exactly representable in
    doubles (h < 2^48 and powers of two are exact, so floor(h / 2^b) is
    exact) and the fingerprint positive in a signed 64-bit long.
    Per-token weight is 1 (distinct tokens), matching the SQL side's
    DISTINCT; ties (vote sum == 0) yield a 0 bit on both sides.
    """
    hexdigits = bits // 4
    toks = F.array_distinct(tokens_col(text))
    hs = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, hexdigits), 16, 10).cast("long")
    )
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: ((F.floor(h / F.pow(F.lit(2.0), b)) % 2) * 2 - 1).cast("long"),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: F.when(v > 0, F.floor(F.pow(F.lit(2.0), b)).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_md5_sql(
    table_expr: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
) -> str:
    """DuckDB SQL computing exactly ``simhash_md5_col`` per row."""
    hexdigits = bits // 4
    return f"""
        WITH toks AS (
          SELECT DISTINCT {id_col}, unnest({tokens_sql(text_col)}) AS tok
          FROM {table_expr}
        ), hs AS (
          SELECT {id_col},
                 CAST(CAST('0x' || substr(md5(tok), 1, {hexdigits}) AS UBIGINT) AS BIGINT) AS h
          FROM toks
        ), votes AS (
          SELECT {id_col}, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM hs, generate_series(0, {bits - 1}) AS t(b)
          GROUP BY {id_col}, b
        )
        SELECT {id_col},
               CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
                 AS simhash48
        FROM votes GROUP BY {id_col}
    """


def document_frequencies(df, text_col: str = "text", id_col: str = "doc_id"):
    """(token, df) document frequencies — the string-space companion of
    ``operators.dedup.top_df_token_hashes`` (which works in hash space
    for the SimHash head-drop).  Useful directly as corpus-driven
    stopword discovery: the df head IS the stopword list.

    Pure Catalyst: per-doc distinct tokens explode, then one groupBy —
    the shuffle carries (doc, distinct-token) pairs, bounded by corpus
    vocabulary x docs containing each token (the same cost any doc-freq
    computation pays), with map-side partial aggregation.
    """
    toks = df.select(F.explode(F.array_distinct(tokens_col(text_col))).alias("token"))
    return toks.groupBy("token").agg(F.count("*").alias("df"))


# 27 common Latin accented lowercase chars -> ASCII base letters; text
# is lowercased first so the uppercase forms fold into these
_ACCENT_FROM = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿ"
_ACCENT_TO = "aaaaaaeeeeiiiiooooouuuucnyy"


def normalize_text_col(text: str | Column, strip_accents: bool = True) -> Column:
    """Canonical text normalization: lowercase (unicode-aware), fold
    common Latin accents to ASCII via ``translate``, collapse
    whitespace runs to single spaces, trim.  Pure Catalyst, one
    codegen'd projection fused into the scan; byte-identical in DuckDB
    (``normalize_text_sql``), so the driver gate checks md5 equality of
    the normalized bytes."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(c)
    if strip_accents:
        c = F.translate(c, _ACCENT_FROM, _ACCENT_TO)
    return F.trim(F.regexp_replace(c, _WS_RUN, " "))


def normalize_text_sql(expr: str, strip_accents: bool = True) -> str:
    """DuckDB expression computing exactly ``normalize_text_col``."""
    c = f"lower({expr})"
    if strip_accents:
        c = f"translate({c}, '{_ACCENT_FROM}', '{_ACCENT_TO}')"
    return f"trim(regexp_replace({c}, '{_WS_RUN}', ' ', 'g'))"


def winnow_fingerprints_df(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    out_col: str = "fp",
):
    """(id, fp) exploded winnowing fingerprints — same semantics as
    ``winnow_fingerprints_col`` (equality pytest-pinned) but staged as
    one projection per doubling level, so each level's array is
    materialized per row and referenced O(1): zip_with's two references
    to the previous level would otherwise re-evaluate it twice, i.e.
    2^levels evaluations of the gram/md5 pipeline (CollapseProject
    keeps the stages apart precisely because collapsing would duplicate
    a non-cheap expression).  Use this form on corpus-scale paths
    (passage_duplicates); the Column form stays for expression
    composition."""
    from ..operators.aggregate import ensure_min_partitions

    grams = word_ngrams_col(text_col, k)
    big = F.lit(1 << 30)
    # the gram/md5/doubling pipeline is CPU-bound per row: spread a
    # small-file scan (one parquet split) across cores first, or the
    # whole corpus fingerprints on one task (no-op at real scale where
    # the scan already has thousands of splits)
    df = ensure_min_partitions(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.transform(grams, lambda g: F.md5(g)).alias("_h"),
    )
    s = "_h"
    span = 1
    lvl = 0
    while span * 2 <= window:
        lvl += 1
        df = df.withColumn(
            f"_s{lvl}",
            F.zip_with(F.col(s), F.slice(s, span + 1, big), lambda a, b: F.least(a, b)),
        )
        s = f"_s{lvl}"
        span *= 2
    if span < window:
        lvl += 1
        df = df.withColumn(
            f"_s{lvl}",
            F.zip_with(
                F.col(s), F.slice(s, window - span + 1, big), lambda a, b: F.least(a, b)
            ),
        )
        s = f"_s{lvl}"
    n = F.size("_h")
    windows = F.slice(s, 1, F.greatest(n - F.lit(window - 1), F.lit(0)))
    short = F.when(n > 0, F.array(F.array_min("_h"))).otherwise(
        F.array().cast("array<string>")
    )
    fps = F.array_distinct(F.when(n >= window, windows).otherwise(short))
    return df.select("id", F.explode(fps).alias(out_col))
