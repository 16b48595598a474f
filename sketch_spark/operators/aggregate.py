"""Distributed sketch aggregation: the library's central operator.

Architecture (SURVEY.md §3.4, §7.0) — the Spark-native replacement for
the reference's shared-state atomic aggregation
(/root/reference/src/sketch.cu:145-147) and thread-per-config fan-out
(/root/reference/src/sketch_multithread.cpp:266-284):

  scan (columnar, pruned)                      -- Catalyst/parquet
    -> mapInArrow: per-partition numpy sketch partials,
       ALL specs in one fused pass per Arrow batch                  (P1)
    -> mapInArrow fold of the binary states: one task, with a level-1
       fold ahead of it when the partials outnumber _FOLD_FANIN     (P4)
    -> driver-side estimate / DataFrame-side broadcast estimate

Scale properties this shape buys:
* one pass over the data regardless of how many sketch specs run;
* partial rows are O(partitions x groups x specs) with fixed size —
  the shuffle moves kilobytes, never data rows, and is immune to
  token-frequency skew (the sketch *is* the skew defense: a partition
  full of one hot token still emits one 512 KiB state);
* the fold's fan-in is bounded by ``_FOLD_FANIN``: past it a level-1
  fold over ceil(P / _FOLD_FANIN) tasks runs first, the treeAggregate
  shape that survives 100k-partition inputs; states move only through
  the executor-side Arrow shuffle, never through pandas or the driver;
* group-by-key sketches (e.g. per lang) apply the same partial/final
  shape, so a skewed group costs a bigger *partial count*, never a
  shuffled data row.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegralType, LongType

from ..core import make_sketch, sketch_from_bytes
from ..core.base import Sketch
from ..core.hashing import hash_strings, hash_u64
from ..functions.text import GramCounts, tokenize_batch

__all__ = [
    "SketchSpec",
    "build_partials",
    "merge_partials",
    "sketch_aggregate",
    "SketchResult",
    "ensure_min_partitions",
    "state_estimate_col",
    "keyed_distinct_estimates",
    "keyed_sketch_aggregate",
    "salted_spread",
    "partition_histogram",
    "bounded_rank",
    "fd_spectrum",
    "fd_residuals",
]


def bounded_rank(
    df: DataFrame, by: list[tuple[str, bool]], rank_col: str = "rank"
) -> DataFrame:
    """Dense 1..n ``row_number`` for inputs already PROVEN
    candidate-bounded (≤ n_candidates rows after a
    TakeOrderedAndProject / a fixed parameter lattice — never
    data-scale), without an unpartitioned Window.  ``by`` is
    ``[(column_name, ascending), ...]`` and must reach a unique total
    order (include an id tiebreaker).

    Why not ``Window.orderBy``: a global window is correct here (the
    input is tiny by construction) but fires WindowExec's "No
    Partition Defined" WARN — the exact message reserved for flagging
    REAL data-scale single-task windows — and dozens of benign copies
    in the bench tail would hide a genuine scale-killer (VERDICT r4
    #3).  ``partitionBy(lit(0))`` doesn't help: Spark 4 constant-folds
    the foldable partition key away and warns anyway.  So the bounded
    list is ranked as ONE applyInPandas group (constant grouping key):
    a single python task over ≤ a few hundred rows, deterministic
    stable sort, silent plan.  Callers must never hand this a
    data-scale frame; rank those via sampling.rank_buckets instead."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    cols = [c for c, _ in by]
    asc = [a for _, a in by]
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"bounded_rank order columns not in frame: {missing}")
    # fresh StructType: .add on df.schema would mutate the frame's
    # cached schema object and desync it from the underlying plan
    out_schema = StructType(
        list(df.schema.fields) + [StructField(rank_col, IntegerType(), False)]
    )

    def rank(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(cols, ascending=asc, kind="mergesort")
        pdf[rank_col] = np.arange(1, len(pdf) + 1, dtype=np.int32)
        return pdf[[f.name for f in out_schema.fields]]

    # a string literal key: an INTEGER literal in groupBy would parse
    # as a GROUP BY ordinal and fail analysis
    return df.groupBy(F.lit("all")).applyInPandas(rank, out_schema)


def bounded_prefix_sum(
    df: DataFrame, key_col: str, value_col: str, out_col: str = "_off"
) -> DataFrame:
    """EXCLUSIVE prefix sum (``out[i] = sum(value[key < key_i])``) over
    a table already PROVEN bounded by the partition/bucket count —
    the P-row offset table of a distributed rank / prefix-sum operator
    (sampling.rank_buckets, packing's bucket offsets), never
    data-scale.  Same rationale as :func:`bounded_rank`: the global
    cumulative Window is correct here but fires WindowExec's "No
    Partition Defined" WARN, and ``partitionBy(lit(0))`` constant-folds
    away in Spark 4 — so the bounded table folds as ONE applyInPandas
    group with a deterministic stable sort."""
    from pyspark.sql.types import LongType, StructField, StructType

    for c in (key_col, value_col):
        if c not in df.columns:
            raise ValueError(f"bounded_prefix_sum column not in frame: {c}")
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, LongType(), False)]
    )

    def psum(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values([key_col], kind="mergesort")
        pdf[out_col] = (pdf[value_col].cumsum() - pdf[value_col]).astype("int64")
        return pdf[[f.name for f in out_schema.fields]]

    return df.groupBy(F.lit("all")).applyInPandas(psum, out_schema)


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Spread an underpartitioned input before a CPU-bound map pass.

    A small-file table (one parquet split) would run every mapInArrow
    task on one core; repartitioning costs one cheap row shuffle and
    restores data parallelism.  A properly partitioned 100TB input
    (thousands of splits) passes through untouched — this guard exists
    for the small end, not the large.

    The spread target is ``spark.sql.shuffle.partitions`` (capped at
    defaultParallelism), NOT bare defaultParallelism: python-worker
    stages at one-task-per-vCPU oversubscribe this VM's steal-prone
    cores (BENCH.md — the local[32] mapInArrow pathology showed up as
    2-6 s run-to-run swings on minhash_near_dups once this helper
    spread to 32), and a session that tuned its shuffle width expects
    map fan-out to follow the same knob.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    target = min(int(spark.conf.get("spark.sql.shuffle.partitions", str(par))), par)
    target = max(target, 2)
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def long_ids(df: DataFrame, id_col: str) -> DataFrame:
    """``df`` with its integral ``id_col`` cast to bigint, for a
    mapInArrow that passes the id column through under a ``{id_col}
    long`` schema: an int column there fails inside the task.  Any
    other id type raises ``TypeError`` here, before a job runs."""
    dt = df.schema[id_col].dataType
    if not isinstance(dt, IntegralType):
        raise TypeError(f"id column {id_col!r} must be an integral type, not {dt.simpleString()}")
    return df if isinstance(dt, LongType) else df.withColumn(id_col, F.col(id_col).cast("long"))


# a partition's buffered per-batch tables are re-folded past this many bytes
_COMBINE_BYTES = 512 << 20


def _map_side_combine(
    df: DataFrame,
    per_batch,
    key: str,
    aggs: dict[str, str],
    key_type: str = "string",
) -> DataFrame:
    """The one exact count of kept keys: ``per_batch(batch)`` turns each
    Arrow batch of ``df`` into a table of ``key`` plus the long columns
    of ``aggs`` ({column: "sum" | "max"}), usually already combined
    within the batch.  Each partition buffers those tables, folds them
    with one Arrow ``group_by`` on the single key column whenever the
    buffer passes ``_COMBINE_BYTES`` and once at its end, and Spark's
    ``groupBy(key)`` finishes the job: the shuffle carries one row per
    (partition, kept key), never the occurrences."""
    bound = _COMBINE_BYTES  # read on the driver: the closure carries it to the workers
    names = [f"{c}_{a}" for c, a in aggs.items()]

    def fold(tables: list[pa.Table]) -> pa.Table:
        t = pa.concat_tables(tables).group_by(key).aggregate(list(aggs.items()))
        return t.select([key, *names]).rename_columns([key, *aggs])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: list[pa.Table] = []
        size = 0
        for batch in batches:
            t = per_batch(batch)
            if t.num_rows == 0:
                continue
            acc.append(t)
            size += t.nbytes
            if size > bound:
                acc = [fold(acc)]
                size = acc[0].nbytes
        if acc:
            yield from fold(acc).to_batches()

    ddl = ", ".join([f"{key} {key_type}"] + [f"{c} long" for c in aggs])
    partial = ensure_min_partitions(df).mapInArrow(run, ddl)
    return partial.groupBy(key).agg(*[getattr(F, a)(c).alias(c) for c, a in aggs.items()])


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build: which column, which algorithm, how to feed it.

    mode:
      "tokens"  — whitespace-tokenize the string column, update with
                  (optionally n-gram) token hashes (CM/CMCU/HLL/Bloom).
      "tokens_str" — tokenize, pre-aggregate the batch via Arrow
                  ``value_counts``, and feed token *strings* + counts
                  (sketches that keep identities: Misra–Gries).
      "value"   — update with one hash per row (string or numeric
                  column): distinct urls, per-row keys, etc.
      "numeric" — feed raw numeric values (KLL quantiles).
      "vector"  — feed a list<float> column as a (rows, d) float64
                  matrix batch (Frequent Directions); null vectors are
                  skipped, ragged lengths raise.
    """

    name: str
    kind: str
    column: str
    mode: str = "tokens"
    ngram: int = 1
    lowercase: bool = False
    params: dict[str, Any] = field(default_factory=dict)

    def make(self) -> Sketch:
        return make_sketch(self.kind, **self.params)

    def _seed(self) -> int:
        return int(self.params.get("seed", 1))

    def feed(
        self,
        sketch: Sketch,
        col: pa.ChunkedArray | pa.Array,
        cache: dict | None = None,
    ) -> int:
        """Update ``sketch`` with one Arrow column batch; returns #values.
        The one-segment case of :meth:`feed_segments`."""
        return self.feed_segments([sketch], col, [0, len(col)], cache)[0]

    def feed_segments(
        self,
        sketches: list[Sketch],
        col: pa.ChunkedArray | pa.Array,
        offsets,
        cache: dict | None = None,
    ) -> list[int]:
        """Update ``sketches[i]`` with rows ``offsets[i]:offsets[i + 1]``
        of one Arrow column batch; returns #values per segment.

        The column is tokenized, hashed or converted once for the whole
        batch and each sketch is fed its slice of the result — the same
        bytes as feeding each row range on its own, for a fixed cost
        per batch instead of per segment (the keyed build's many small
        groups).  ``cache`` (scoped to one batch by the caller)
        de-duplicates tokenize+hash work across specs sharing (column,
        lowercase, seed) — the reference's "all configs in one scan"
        (sketch.cpp:140-162) made literal: N sketches over the same
        text column tokenize it once.
        """
        if isinstance(col, pa.ChunkedArray):
            # a batch's column is one chunk: take it as is, since
            # combining copies it (~6 ms per spec on a text batch)
            col = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
        offsets = np.asarray(offsets, dtype=np.int64)
        spans = list(zip(sketches, offsets[:-1], offsets[1:]))
        if self.mode == "numeric":
            v = np.asarray(col.to_numpy(zero_copy_only=False), dtype=np.float64)
            for sk, lo, hi in spans:
                sk.update_values(v[lo:hi])
            return [int(hi - lo) for _, lo, hi in spans]
        if self.mode == "vector":
            return self._feed_vectors(spans, col)
        if self.mode == "tokens_str":
            key = ("tokstr", self.column, self.lowercase, offsets.tobytes())
            segs = cache.get(key) if cache is not None else None
            if segs is None:
                flat, parents = tokenize_batch(pc.utf8_lower(col) if self.lowercase else col)
                cuts = np.searchsorted(parents, offsets)
                segs = [_token_counts(flat.slice(a, b - a)) for a, b in zip(cuts[:-1], cuts[1:])]
                if cache is not None:
                    cache[key] = segs
            for (sk, _, _), (uniq, cnts) in zip(spans, segs):
                if len(uniq):
                    sk.update_tokens(uniq, cnts)
            return [int(cnts.sum()) for _, cnts in segs]
        if self.mode == "value":
            if sketches:
                keys = _value_keys(col, self._seed())
                type(sketches[0]).update_hashed_segments(sketches, keys, offsets)
            return [int(hi - lo) for _, lo, hi in spans]
        # one tokenization per (column, lowercase, seed) and batch: every
        # n-gram order of every spec derives its keys and counts from it
        key = ("tokens", self.column, self.lowercase, self._seed())
        grams = cache.get(key) if cache is not None else None
        if grams is None:
            grams = GramCounts(col, seed=self._seed(), lowercase=self.lowercase)
            if cache is not None:
                cache[key] = grams
        out = []
        for (sk, _, _), (uk, c) in zip(spans, grams.segments(self.ngram, offsets)):
            if len(uk):
                sk._update_unique(uk, c)
            out.append(int(c.sum()))
        return out

    @staticmethod
    def _feed_vectors(spans: list, col: pa.Array) -> list[int]:
        """Vector mode: null lists are skipped; a null element or ragged
        lengths raise (a NaN would poison the SVD compaction)."""
        valid = col.drop_null()
        vals = valid.flatten()  # valid slots only, rebased to 0
        if vals.null_count:
            raise ValueError("vector mode: null element inside a vector")
        widths = np.diff(valid.offsets.to_numpy(zero_copy_only=False))
        if len(widths) and (widths != widths[0]).any():
            raise ValueError("vector mode needs fixed-length vectors")
        flat = np.asarray(vals.to_numpy(zero_copy_only=False), dtype=np.float64)
        mat = flat.reshape(len(valid), -1) if len(valid) else flat
        # segment bounds in valid rows
        seen = np.concatenate([[0], np.cumsum(col.is_valid().to_numpy(zero_copy_only=False))])
        out = []
        for sk, lo, hi in spans:
            a, b = seen[lo], seen[hi]
            if b > a:
                sk.update_values(mat[a:b])
            out.append(int(b - a))
        return out


def _token_counts(flat: pa.Array) -> tuple[list, np.ndarray]:
    """(distinct token strings, int64 counts) in first-seen order."""
    if len(flat) == 0:
        return [], np.empty(0, dtype=np.int64)
    vc = flat.value_counts()
    cnts = vc.field("counts").to_numpy(zero_copy_only=False).astype(np.int64)
    return vc.field("values").to_pylist(), cnts


def _value_keys(col: pa.Array, seed: int) -> np.ndarray:
    """One uint64 key per row of a value-mode column.  Strings hash
    with nulls as ''; numbers hash by their Arrow type, so an integer
    keeps its key whether or not its batch holds a null (a null reads
    as the NaN key)."""
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return hash_strings(col, seed=seed)
    if col.null_count == 0 or pa.types.is_floating(col.type):
        return hash_u64(col.to_numpy(zero_copy_only=False), seed=seed)
    keys = np.full(len(col), hash_u64(np.array([np.nan]), seed=seed)[0], dtype=np.uint64)
    keys[col.is_valid().to_numpy(zero_copy_only=False)] = hash_u64(
        col.drop_null().to_numpy(zero_copy_only=False), seed=seed
    )
    return keys


_PARTIAL_FIELDS = [
    ("spec", pa.string()),
    ("state", pa.binary()),
    ("n_rows", pa.int64()),
    ("n_values", pa.int64()),
]


# the Spark types a group key column of a partial row may have
_GROUP_TYPES = frozenset(
    {"string", "bigint", "int", "smallint", "double", "float", "boolean", "timestamp", "date"}
)


def _ddl(df: DataFrame, cols: list[str]) -> list[str]:
    """``name type`` of each of ``cols``, read from ``df``'s Spark schema."""
    return [f"{f.name} {f.dataType.simpleString()}" for f in df.select(*cols).schema.fields]


def _partial_ddl(df: DataFrame, group_cols: list[str]) -> str:
    """The Spark DDL of partial-state rows keyed by ``group_cols`` of ``df``."""
    keys = _ddl(df, group_cols)
    for k in keys:
        if k.split(" ", 1)[1] not in _GROUP_TYPES:
            raise TypeError(f"unsupported group column type {k}")
    return ", ".join(keys + ["spec string", "state binary", "n_rows long", "n_values long"])


_NAN = float("nan")


def _group_key(vals: Iterable) -> tuple:
    """Hashable group key.  Every NaN becomes the one ``_NAN`` object: a
    fresh NaN never equals itself, so a dict would split NaN keys into
    one group per row, where Spark's groupBy keeps one NaN group."""
    return tuple(_NAN if isinstance(v, float) and v != v else v for v in vals)


def _group_slices(
    tbl: pa.Table, group_cols: list[str]
) -> tuple[list[tuple], pa.Table, np.ndarray]:
    """(keys, taken, offsets): ``tbl``'s rows grouped once — Arrow
    hash-groups the row indices and one ``take`` lays every group out
    contiguously, group i being rows ``offsets[i]:offsets[i + 1]`` of
    ``taken``.  Null keys form one real group and NaN stays apart from
    null (SQL groupBy semantics); rows keep their input order inside a
    group; int64 keys above 2^53 stay exact.

    Arrow groups per-column dictionary codes, not the key columns: on
    pyarrow 16 a multi-column ``group_by`` whose keys hold a null splits
    one key into several groups (single-column grouping is exact).  The
    codes are null-free int32; the key values are read back from each
    group's first row."""
    if tbl.num_rows == 0:
        return [], tbl, np.zeros(1, dtype=np.int64)
    codes = [
        pc.dictionary_encode(tbl.column(c), null_encoding="encode").combine_chunks().indices
        for c in group_cols
    ]
    names = [f"k{j}" for j in range(len(codes))]
    idx = pa.table(codes + [pa.array(np.arange(tbl.num_rows))], names=names + ["i"])
    lists = (
        idx.group_by(names, use_threads=False)
        .aggregate([("i", "list")])
        .column("i_list")
        .combine_chunks()
    )
    taken = tbl.take(lists.values)
    offsets = lists.offsets.to_numpy().astype(np.int64)
    firsts = taken.select(group_cols).take(pa.array(offsets[:-1]))
    keys = [_group_key(k) for k in zip(*(firsts.column(c).to_pylist() for c in group_cols))]
    return keys, taken, offsets


def _merge_state_rows(
    rows: Iterable[dict], keys: list[str], acc: dict[tuple, list] | None = None
) -> dict[tuple, list]:
    """The one fold of partial-state rows: merge every row dict into
    ``acc`` = {(row[k] for k in keys): [sketch, n_rows, n_values]} and
    return it.  Fields other than ``keys``, state, n_rows and n_values
    are ignored; passing ``acc`` back in folds incrementally."""
    acc = {} if acc is None else acc
    for r in rows:
        key = _group_key(r[c] for c in keys)
        sk = sketch_from_bytes(r["state"])
        m = acc.get(key)
        if m is None:
            acc[key] = [sk, r["n_rows"], r["n_values"]]
        else:
            m[0].merge(sk)
            m[1] += r["n_rows"]
            m[2] += r["n_values"]
    return acc


# the fold reads at most this many partial states in one task; more
# partials first run a level-1 fold over ceil(P / _FOLD_FANIN) tasks
_FOLD_FANIN = 64
# past this many bytes of in-memory state per group, the partial pass
# coalesces to max(defaultParallelism, 2) tasks
_WIDE_STATE_BYTES = 8 << 20


def _state_bytes(specs: list[SketchSpec]) -> int:
    """In-memory bytes of one empty state per spec: the dense arrays a
    partial task holds (an HLL's 2^p registers), not the wire size (an
    empty HLL serialises to ~130 bytes at any p)."""
    return sum(
        v.nbytes for s in specs for v in vars(s.make()).values() if isinstance(v, np.ndarray)
    )


def build_partials(
    df: DataFrame,
    specs: list[SketchSpec],
    group_cols: list[str] | None = None,
    spread_small_inputs: bool = True,
) -> DataFrame:
    """One row of binary sketch state per (input partition, group, spec).

    Single fused pass: every spec updates from the same Arrow batch
    (the reference computes all k-mer lengths in one scan —
    sketch.cpp:140-162; here all sketch kinds/configs share one scan).
    ``group_cols`` is for low-cardinality keys (lang, source); state
    memory per partition is O(groups x specs x state_size).

    Partitioning, when ``spread_small_inputs`` allows a change: WIDE
    states (the specs' in-memory state past ``_WIDE_STATE_BYTES``, e.g.
    w >= 2^18 CM tables of tens of MB) coalesce (no data shuffle) to
    max(defaultParallelism, 2) tasks, since partitions x groups x specs
    x state_size would otherwise become the dominant shuffle; narrower
    states go through ``ensure_min_partitions``.  The keyed path passes
    ``spread_small_inputs=False``: its ``(key, salt)`` partitioning is
    kept as it is.
    """
    group_cols = list(group_cols or [])
    needed = sorted({s.column for s in specs} | set(group_cols))
    narrow = df.select(*needed)  # column pruning reaches the scan
    if spread_small_inputs:
        if _state_bytes(specs) > _WIDE_STATE_BYTES:
            narrow = narrow.coalesce(max(df.sparkSession.sparkContext.defaultParallelism, 2))
        else:
            narrow = ensure_min_partitions(narrow)
    ddl = _partial_ddl(df, group_cols)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        states: dict[tuple, dict[str, Sketch]] = {}
        counts: dict[tuple, list[int]] = {}

        def bucket(gkey: tuple) -> dict[str, Sketch]:
            if gkey not in states:
                states[gkey] = {s.name: s.make() for s in specs}
                counts[gkey] = {"rows": 0, **{s.name: 0 for s in specs}}
            return states[gkey]

        if not group_cols:
            # global aggregate: always emit a (possibly empty) state so
            # empty inputs still yield a well-formed zero sketch
            bucket(())

        key_fields = []
        for batch in batches:
            # group keys keep the INPUT Arrow types (see _fold_states)
            key_fields = [batch.schema.field(c) for c in group_cols]
            tbl = pa.Table.from_batches([batch])
            if group_cols:
                gkeys, tbl, offsets = _group_slices(tbl, group_cols)
            else:  # the global pass is one segment
                gkeys, offsets = [()], np.array([0, tbl.num_rows])
            buckets = [bucket(k) for k in gkeys]
            for k, n in zip(gkeys, np.diff(offsets)):
                counts[k]["rows"] += int(n)
            batch_cache: dict = {}
            for spec in specs:
                col = tbl.column(spec.column)
                nvs = spec.feed_segments([b[spec.name] for b in buckets], col, offsets, batch_cache)
                for k, nv in zip(gkeys, nvs):
                    counts[k][spec.name] += nv

        if not states:
            return
        rows = []
        for gkey, sk in states.items():
            for spec in specs:
                row = dict(zip(group_cols, gkey))
                row.update(
                    spec=spec.name,
                    state=sk[spec.name].to_bytes(),
                    n_rows=counts[gkey]["rows"],
                    n_values=counts[gkey][spec.name],
                )
                rows.append(row)
        schema = pa.schema(key_fields + [pa.field(n, t) for n, t in _PARTIAL_FIELDS])
        yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return narrow.mapInArrow(run, ddl)


def _fold_states(group_cols: list[str]):
    """mapInArrow fold: merge every partial state in this partition,
    keyed by (group..., spec), one Arrow batch at a time — binary states
    never leave Arrow, and never round-trip through pandas pickling."""
    keys = list(group_cols) + ["spec"]

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[tuple, list] = {}
        key_fields = None
        for batch in batches:
            if key_fields is None:
                # non-string group keys (int labels etc.) must keep the
                # INPUT Arrow type: from_pylist would re-infer int64 and
                # desync from the declared mapInArrow schema
                key_fields = [batch.schema.field(c) for c in keys]
            _merge_state_rows(batch.to_pylist(), keys, acc)
        if not acc:
            return
        out = [
            dict(zip(keys, key), state=sk.to_bytes(), n_rows=n_rows, n_values=n_values)
            for key, (sk, n_rows, n_values) in acc.items()
        ]
        out_schema = pa.schema(key_fields + [pa.field(n, t) for n, t in _PARTIAL_FIELDS[1:]])
        yield pa.RecordBatch.from_pylist(out, schema=out_schema)

    return fold


def merge_partials(
    partials: DataFrame,
    group_cols: list[str] | None = None,
    two_level: bool = True,
) -> DataFrame:
    """Associative tree merge of binary sketch states via mapInArrow
    folds, keyed by (group..., spec).  The plan follows the partial
    count P: at P <= ``_FOLD_FANIN`` one task folds every state; past
    it a level-1 fold first deals the partials round-robin over
    ceil(P / _FOLD_FANIN) tasks (a heavy key's states spread across
    them — the salting), so each of those tasks reads about
    ``_FOLD_FANIN`` states and the final one-task fold reads one per
    level-1 task.  States move only through
    the executor-side shuffle (Arrow <-> disk), never through pandas or
    the driver.  ``two_level=False`` never runs the level-1 fold.
    """
    group_cols = list(group_cols or [])
    schema_ddl = _partial_ddl(partials, group_cols)
    lvl = partials
    if two_level:
        level1 = -(-partials.rdd.getNumPartitions() // _FOLD_FANIN)
        if level1 > 1:
            lvl = lvl.repartition(level1).mapInArrow(_fold_states(group_cols), schema_ddl)
    return lvl.repartition(1).mapInArrow(_fold_states(group_cols), schema_ddl)


def salted_spread(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    salt: int = 8,
    partitions: int | None = None,
    row_id_col: str | None = None,
) -> DataFrame:
    """The skew-defusing exchange ``keyed_sketch_aggregate`` executes,
    exposed on its own so the post-exchange balance can be measured
    (bench_util/skew.py, tests/test_skew.py): select the needed
    columns, attach a DETERMINISTIC content salt ``pmod(xxhash64(id,
    values...), S)``, and ``repartition(P, key..., _salt)``.  See
    :func:`keyed_sketch_aggregate` for why the salt must be a pure
    function of row content (replay stability) and how to size ``salt``
    / ``partitions``.  Returns the spread DataFrame with the salt and
    any helper id column dropped — exactly the input the partial-build
    stage consumes."""
    key_cols = list(key_cols)
    value_cols = list(value_cols)
    salt_cols = ([row_id_col] if row_id_col else []) + value_cols
    sel = list(dict.fromkeys(key_cols + value_cols + ([row_id_col] if row_id_col else [])))
    salted = df.select(*sel).withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt)).cast("int"),
    )
    sc = df.sparkSession.sparkContext
    shuffle_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n_parts = partitions or max(sc.defaultParallelism, shuffle_parts, salt)
    spread = salted.repartition(n_parts, *key_cols, F.col("_salt")).drop("_salt")
    if row_id_col and row_id_col not in key_cols and row_id_col not in value_cols:
        spread = spread.drop(row_id_col)
    return spread


def partition_histogram(
    df: DataFrame, expected_partitions: int | None = None
) -> dict[int, int]:
    """Post-exchange per-task row counts: evaluate
    ``spark_partition_id()`` on ``df``'s OWN partitioning (before the
    counting aggregation adds its exchange) and count rows per task.
    With ``expected_partitions``, zero-row tasks are reported as 0 so
    balance factors account for idle executors.  This is the
    measurement instrument for the skew evidence in BENCH.md."""
    rows = (
        df.select(F.spark_partition_id().alias("pid")).groupBy("pid").count().collect()
    )
    hist = {int(r["pid"]): int(r["count"]) for r in rows}
    if expected_partitions:
        for p in range(expected_partitions):
            hist.setdefault(p, 0)
    return hist


def keyed_sketch_aggregate(
    df: DataFrame,
    key_cols: list[str],
    specs: list[SketchSpec],
    salt: int = 8,
    partitions: int | None = None,
    row_id_col: str | None = None,
) -> DataFrame:
    """Per-key sketches for HIGH-cardinality keys (hosts, urls) with
    explicit skew salting (north_star: "explicit salting/repartitioning
    to defuse heavy-hitter URL/host skew").

    Shape: one explicit ``repartition(P, key..., _salt)`` shuffle with
    ``salt = pmod(xxhash64(row values...), S)`` — a heavy-hitter
    host spreads over up to S partitions, so no single task sees the
    whole hot key.  The salt is DETERMINISTIC per row content: a
    re-executed map task after a fetch failure recomputes the same
    salt, so the partitioning key is replay-stable (mixing
    ``monotonically_increasing_id`` here would be a SPARK-23207-style
    hazard — recomputed ids can differ when upstream order isn't
    stable, silently losing/duplicating rows).  The one trade: EXACT
    duplicate rows share a salt; pass ``row_id_col`` (a stable unique
    id column, e.g. doc_id/url) to fan duplicate-row skew out too,
    deterministically — then ONE vectorized ``build_partials`` pass per
    partition (each batch grouped once by Arrow, each spec's column
    hashed or tokenized once per batch and fed per group slice; no
    per-group pandas calls: an applyInPandas stage here would pay ~1 ms
    x (keys x S) groups, the same trap the LSH pair stage hit), then
    the keyed tree merge.  Per-task state memory is (distinct keys in
    partition) x state size — bounded by the partition count, which is
    the lever to raise for wide sketches over many keys.  The S per-key
    states tree-merge (KB-scale); for sketches with an exact merge
    homomorphism (CM counter sum, HLL register max, Bloom bit OR) the
    merged state is byte-identical to any other partitioning
    (tests/test_skew.py pins this), while CMCU — conservative update is
    grouping-dependent by construction — merges to a valid upper bound
    whose exact bytes depend on the fan-out.

    Memory math (size ``partitions`` for it): a task holds ~
    total_keys x salt / partitions states concurrently.  In memory an
    HLL is always dense (2^p bytes: 16 KB at p=14), so for 10^6 hosts
    x HLL p=14 a ~200 MB/task budget means partitions ~ total_keys x
    salt x 16 KB / 200MB (~600 for that example).  On the wire (the
    partial rows, the shuffle, the fold's input) an HLL state grows
    with the registers it has set: ~130 bytes + 4 per set register,
    capped by the dense 16.5 KB — a host with 3 URLs ships ~140 bytes.
    The default max(defaultParallelism, spark.sql.shuffle.partitions,
    salt) is right when shuffle.partitions is sized to the cluster,
    which at real scale it must be anyway; pass ``partitions``
    explicitly for wide sketches over very many keys.

    Returns a DataFrame (key_cols..., spec, state, n_rows, n_values) —
    one row per (key, spec).
    """
    key_cols = list(key_cols)
    value_cols = sorted({s.column for s in specs})
    spread = salted_spread(
        df, key_cols, value_cols, salt=salt, partitions=partitions, row_id_col=row_id_col
    )
    # spread_small_inputs=False: the (key, salt) clustering above IS the
    # partitioning contract — a round-robin respread would scatter every
    # key across all tasks and blow up per-task state memory
    stage1 = build_partials(spread, specs, group_cols=key_cols, spread_small_inputs=False)
    return merge_partials(stage1, key_cols, two_level=False)


def state_estimate_col():
    """pandas UDF mapping a binary sketch state column -> its scalar
    estimate (HLL/Bloom cardinality, CM/CMCU total-aware sketches
    return their ``estimate()``), so per-key estimates over 10^6+ keys
    are extracted EXECUTOR-side from the merged state rows — the driver
    never collects or decodes a state per key.
    Cost is per STATE row (key-scale), never per data row.
    """

    @F.pandas_udf("double")
    def est(states: pd.Series) -> pd.Series:
        return pd.Series(
            [float(sketch_from_bytes(bytes(b)).estimate()) for b in states]
        )

    return est


def state_quantiles_col(qs: list[float], decimals: int = 4):
    """pandas UDF mapping a binary quantile-sketch state column (KLL /
    t-digest) -> array of quantile estimates at ``qs`` — the
    ``state_estimate_col`` sibling for quantile queries, so results are
    built EXECUTOR-side from the merged state rows instead of
    collect() + createDataFrame on the driver (VERDICT r2 #3).  Pair
    with posexplode to get (q, est) rows."""
    qs = [float(q) for q in qs]

    @F.pandas_udf("array<double>")
    def quant(states: pd.Series) -> pd.Series:
        out = []
        for b in states:
            sk = sketch_from_bytes(bytes(b))
            vals = np.atleast_1d(sk.quantile(np.array(qs)))
            out.append([round(float(v), decimals) for v in vals])
        return pd.Series(out)

    return quant


def state_contains_col(probes: list[str]):
    """pandas UDF mapping a binary Bloom-filter state column -> array of
    membership booleans for ``probes`` — executor-side result
    construction for membership queries (same rationale as
    ``state_quantiles_col``)."""
    probes = [str(p) for p in probes]

    @F.pandas_udf("array<boolean>")
    def contains(states: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [bool(h) for h in sketch_from_bytes(bytes(b)).contains_tokens(probes)]
                for b in states
            ]
        )

    return contains


def quantile_rows(merged: DataFrame, spec_name: str, qs: list[float], decimals: int = 4) -> DataFrame:
    """(q, est) rows from a merged quantile-sketch state table, fully
    executor-side: one posexplode over the per-state estimate array."""
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    return (
        merged.filter(F.col("spec") == spec_name)
        .select(state_quantiles_col(qs, decimals)(F.col("state")).alias("ests"))
        .select(F.posexplode("ests").alias("pos", "est"))
        .select(F.element_at(qarr, F.col("pos") + 1).alias("q"), "est")
    )


def membership_rows(merged: DataFrame, spec_name: str, probes: list[str]) -> DataFrame:
    """(token, maybe_present) rows from a merged Bloom state table,
    fully executor-side."""
    parr = F.array(*[F.lit(str(p)) for p in probes])
    return (
        merged.filter(F.col("spec") == spec_name)
        .select(state_contains_col(probes)(F.col("state")).alias("hits"))
        .select(F.posexplode("hits").alias("pos", "maybe_present"))
        .select(F.element_at(parr, F.col("pos") + 1).alias("token"), "maybe_present")
    )


def keyed_distinct_estimates(
    df: DataFrame,
    key_cols: list[str],
    column: str,
    p: int = 14,
    seed: int = 1,
    salt: int = 8,
    mode: str = "tokens",
    row_id_col: str | None = None,
) -> DataFrame:
    """Per-key HLL distinct estimates end-to-end without any driver
    involvement: salted keyed build -> tree merge -> executor-side
    estimate extraction.  Output (key_cols..., est_distinct:long,
    n_rows, n_values) stays a DataFrame — write it, join it, never
    collect it."""
    spec = SketchSpec("hll", "hll", column, mode=mode, params={"p": p, "seed": seed})
    merged = keyed_sketch_aggregate(df, key_cols, [spec], salt=salt, row_id_col=row_id_col)
    return merged.select(
        *key_cols,
        F.round(state_estimate_col()(F.col("state"))).cast("long").alias("est_distinct"),
        "n_rows",
        "n_values",
    )


class SketchResult:
    """Merged sketches plus per-run metrics, keyed by (group..., spec).

    ``rows`` are partial-state rows (group..., spec, state, n_rows,
    n_values); rows sharing a key merge, other fields are ignored."""

    def __init__(self, rows: Iterable[dict], group_cols: list[str]):
        self.group_cols = group_cols
        acc = _merge_state_rows(rows, list(group_cols) + ["spec"])
        self._sketches: dict[tuple, Sketch] = {k: m[0] for k, m in acc.items()}
        self.metrics: dict[tuple, dict] = {
            k: {"n_rows": m[1], "n_values": m[2]} for k, m in acc.items()
        }

    def sketch(self, spec_name: str, *group_vals) -> Sketch:
        return self._sketches[_group_key(group_vals) + (spec_name,)]

    def keys(self):
        return list(self._sketches)

    def __len__(self):
        return len(self._sketches)


def sketch_aggregate(
    df: DataFrame,
    specs: list[SketchSpec],
    group_cols: list[str] | None = None,
) -> SketchResult:
    """End-to-end: build partials -> tree merge -> collect tiny states.
    Partitioning and fold plan are those of :func:`build_partials` and
    :func:`merge_partials`, chosen from the specs and the partial count."""
    group_cols = list(group_cols or [])
    merged = merge_partials(build_partials(df, specs, group_cols), group_cols)
    rows = [r.asDict() for r in merged.collect()]
    result = SketchResult(rows, group_cols)
    if not group_cols:
        # a zero-partition input (e.g. filter(false) collapsed to an
        # empty LocalRelation) runs no tasks at all — synthesize empty
        # states so global aggregates are total functions
        for spec in specs:
            if (spec.name,) not in result._sketches:
                result._sketches[(spec.name,)] = spec.make()
                result.metrics[(spec.name,)] = {"n_rows": 0, "n_values": 0}
    return result


def state_union_estimate_col():
    """pandas UDF (state_a, state_b) -> cardinality estimate of the
    MERGED sketch — executor-side sketch set algebra over merged-state
    rows (merge is in-place on a deserialized copy; inputs untouched).
    Pair with ``state_estimate_col`` for inclusion-exclusion
    intersection estimates."""

    @F.pandas_udf("double")
    def uni(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(a, b):
            sa = sketch_from_bytes(bytes(ba))
            sa.merge(sketch_from_bytes(bytes(bb)))
            out.append(float(sa.estimate()))
        return pd.Series(out)

    return uni


def distinct_overlap_estimates(
    df: DataFrame,
    group_col: str,
    column: str,
    p: int = 14,
    seed: int = 1,
    mode: str = "tokens",
    decimals: int = 1,
) -> DataFrame:
    """Pairwise distinct-value overlap between groups via HLL merge
    algebra — the analytics mergeable sketches exist for: |A∪B| is one
    state merge (registers max), |A∩B| = |A|+|B|-|A∪B| by
    inclusion-exclusion.  One pass over the data builds per-group
    states; the pairwise stage then touches only G states (KB each), as
    a self-join over state rows with executor-side estimate extraction
    — nothing data-scale, no driver collect.

    Output: (group_a, group_b, est_a, est_b, est_union,
    est_intersection) for group_a < group_b.  Intersection error is
    bounded by ~3 x 1.04/sqrt(2^p) x |A∪B| (each term carries the HLL
    RSE of its union-sized argument) — asserted in pytest.
    """
    spec = SketchSpec("hll", "hll", column, mode=mode, params={"p": p, "seed": seed})
    merged = merge_partials(build_partials(df, [spec], [group_col]), [group_col])
    a = merged.select(
        F.col(group_col).alias("group_a"), F.col("state").alias("state_a")
    )
    b = merged.select(
        F.col(group_col).alias("group_b"), F.col("state").alias("state_b")
    )
    est = state_estimate_col()
    uni = state_union_estimate_col()
    return (
        a.join(b, F.col("group_a") < F.col("group_b"))
        .withColumn("est_a", F.round(est(F.col("state_a")), decimals))
        .withColumn("est_b", F.round(est(F.col("state_b")), decimals))
        .withColumn("est_union", F.round(uni(F.col("state_a"), F.col("state_b")), decimals))
        .withColumn(
            "est_intersection",
            F.greatest(
                F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), decimals),
                F.lit(0.0),
            ),
        )
        .select("group_a", "group_b", "est_a", "est_b", "est_union", "est_intersection")
    )


def _fd_merged_state(
    df: DataFrame, vec_col: str, d: int | None, ell: int, group_cols: list[str] | None = None
) -> tuple[DataFrame, int]:
    """Shared FD preamble: infer d if needed, build per-partition (and
    per-group) FD partials in one Arrow pass, tree-merge — (merged
    frame, d)."""
    group_cols = list(group_cols or [])
    if d is None:
        row = df.select(F.size(vec_col).alias("_d")).filter(F.col("_d") > 0).head()
        if row is None:
            raise ValueError("cannot infer d from an empty/all-null vector column")
        d = int(row["_d"])
    spec = SketchSpec("fd", "fd", vec_col, mode="vector", params={"d": d, "ell": ell})
    partials = build_partials(df.select(*group_cols, vec_col), [spec], group_cols)
    return merge_partials(partials, group_cols), d


def fd_spectrum(
    df: DataFrame,
    vec_col: str = "embedding",
    d: int | None = None,
    ell: int = 16,
    k: int = 8,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(component, singular_value, err_bound, n_rows): top-k singular
    values of the corpus embedding matrix estimated by a merged
    Frequent Directions sketch (core/fd.py), plus the published
    spectral bound ``||A||_F^2 / ell`` and the exact row count — the
    streaming-PCA readout (subspace drift monitoring, whitening,
    rank-k energy) without ever shuffling a vector.

    Scale shape: one Arrow pass folds each partition into an
    ``ell x d`` state (``build_partials`` with the "vector" spec
    mode), states tree-merge executor-side (``merge_partials``), and
    the spectrum is unpacked from the one merged row via mapInArrow —
    vectors never leave their scan partition, the shuffle carries
    O(partitions) small matrices, the driver sees nothing.

    Estimates are merge-order-dependent WITHIN the published bound
    (|sigma_i(B)^2 - sigma_i(A)^2| <= bound by Weyl's inequality) —
    a rows-only contract query with the bound pinned in pytests, like
    the KLL/t-digest rows.

    ``group_cols`` (low-cardinality keys: lang, label, source) builds
    one FD state PER GROUP in the same fused pass — per-cluster
    subspace monitoring; output gains the group columns.
    """
    group_cols = list(group_cols or [])
    merged, d = _fd_merged_state(df, vec_col, d, ell, group_cols)

    def unpack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            groups = [tbl.column(g).to_pylist() for g in group_cols]
            for i, (spec_name, blob) in enumerate(
                zip(tbl.column("spec").to_pylist(), tbl.column("state").to_pylist())
            ):
                if spec_name != "fd":
                    continue
                fd = sketch_from_bytes(blob)
                sv = fd.singular_values()[:k]
                # vectors actually consumed (null rows skipped), from
                # the state itself — the partial-row n_rows counts
                # input rows including nulls
                n_rows = fd.n
                cols = {
                    # preserve the input Arrow type (e.g. int32 labels):
                    # re-inference would widen to int64 and crash the
                    # declared-schema ArrowColumnVector accessor
                    g: pa.array(
                        [groups[j][i]] * len(sv), type=tbl.schema.field(g).type
                    )
                    for j, g in enumerate(group_cols)
                }
                cols.update(
                    {
                        "component": pa.array(range(1, len(sv) + 1), pa.int64()),
                        "singular_value": pa.array(
                            [float(x) for x in sv], pa.float64()
                        ),
                        "err_bound": pa.array([fd.bound] * len(sv), pa.float64()),
                        "n_rows": pa.array([int(n_rows)] * len(sv), pa.int64()),
                    }
                )
                yield pa.RecordBatch.from_pydict(cols)

    ddl = _ddl(merged, group_cols) + [
        "component long", "singular_value double", "err_bound double", "n_rows long"
    ]
    return merged.mapInArrow(unpack, ", ".join(ddl))


def _fd_scores(batches: Iterator[pa.RecordBatch], v: np.ndarray) -> Iterator[pa.RecordBatch]:
    """fd_residuals' map pass: score every (id, vector) batch against
    the top right singular vectors ``v`` (k x d); zero-row batches
    (empty partitions) yield nothing."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        ids = batch.column(0)
        col = batch.column(1)
        valid = col.drop_null()
        if len(valid) != len(col):
            raise ValueError("fd_residuals: null vector (filter first)")
        vals = valid.flatten()
        if vals.null_count:
            raise ValueError("fd_residuals: null element inside a vector")
        flat = np.asarray(vals.to_numpy(zero_copy_only=False), dtype=np.float64)
        mat = flat.reshape(len(col), -1)
        if mat.shape[1] != v.shape[1]:
            raise ValueError(
                f"expected d={v.shape[1]} columns, got {mat.shape[1]}"
            )
        sq = np.einsum("ij,ij->i", mat, mat)
        proj = mat @ v.T
        res = np.maximum(sq - np.einsum("ij,ij->i", proj, proj), 0.0)
        ratio = np.divide(res, sq, out=np.zeros_like(res), where=sq > 0)
        yield pa.RecordBatch.from_pydict(
            {
                "_id": ids,
                "sq_norm": pa.array(sq, pa.float64()),
                "residual": pa.array(res, pa.float64()),
                "ratio": pa.array(ratio, pa.float64()),
            }
        )


def fd_residuals(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    d: int | None = None,
    ell: int = 16,
    k: int = 8,
) -> DataFrame:
    """(id, sq_norm, residual, ratio): distance of every vector from the
    corpus's dominant rank-``k`` subspace, read off a merged Frequent
    Directions state — the embedding-QC readout (corrupt/outlier vector
    detection, the SemDeDup-style prune signal) as two map passes.

    residual = ||x||^2 - ||V_k x||^2 >= 0 (V_k = FD top-k right
    singular vectors); ratio = residual / ||x||^2 in [0, 1] — 0 for
    vectors inside the dominant subspace, -> 1 for orthogonal outliers.
    Zero vectors get ratio 0 (guarded division — the ANSI rule).

    Scale shape: pass 1 is :func:`fd_spectrum`'s build (vectors never
    shuffle; one k x d matrix reaches the driver); pass 2 broadcasts
    V_k and scores each partition with one numpy gemm — map-only, no
    exchange.  Values inherit FD's merge-order dependence (the
    SUBSPACE is stable for separated spectra; in-subspace residuals
    are ~0 under any order — property-tested), so this is a rows-only
    query like fd_spectrum.
    """
    merged, d = _fd_merged_state(df, vec_col, d, ell)
    blob = merged.filter(F.col("spec") == "fd").select("state").head()
    if blob is None:
        raise ValueError("no FD state built (empty input?)")
    fd = sketch_from_bytes(bytes(blob["state"]))
    _, vt = fd.top_directions(k)
    sc = df.sparkSession.sparkContext
    bvt = sc.broadcast(np.ascontiguousarray(vt))

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _fd_scores(batches, bvt.value)

    id_type = dict(df.dtypes)[id_col]
    out = df.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        score, f"_id {id_type}, sq_norm double, residual double, ratio double"
    )
    return out.withColumnRenamed("_id", id_col)
