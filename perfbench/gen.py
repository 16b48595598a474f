"""Seeded input generator for the benchmark: numpy + pyarrow, one process, no Spark.

It writes a pages table in the ``sources.pages.load_pages`` layout
(``<out>/pages/window=control|test/part-NNNN.parquet``) and computes the exact
answers every workload's output is checked against.  The same seed gives
byte-identical parquet files and answers.

Text is Zipf-distributed over a vocabulary of unique lowercase words.  Planted
tokens replace organic token slots in one window or both:

* ``emg*`` tokens are emerging: at or above the threshold in ``test`` and rare
  in ``control``;
* ``stb*`` tokens are stable: equally frequent in both windows;
* ``edge*`` tokens sit on the decision boundary (one below the threshold, or
  exactly ``growth`` times their control count) and must not be reported.

Hosts are Zipf-skewed; URLs repeat within a host (re-crawls), so distinct URLs
per host differ from pages per host.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CONTROL_START_S = 1_751_328_000  # 2025-07-01T00:00:00Z
TEST_START_S = 1_754_006_400  # 2025-08-01T00:00:00Z
WINDOW_S = 14 * 86_400
GROWTH = 2.0
TOP_TOKENS = 200  # exact counts kept for the CMCU underestimate check
TOP_NGRAMS = 20  # per n-gram order 2..4, for the same check
TOKEN_ZIPF = 1.07
HOST_ZIPF = 1.1
HOSTS = 10_000
N_EMERGING = 6
N_STABLE = 4


@dataclass(frozen=True)
class Shape:
    """Input size of one workload."""

    pages: int
    tokens_per_page: int  # mean; lengths are uniform in [mean/2, 3*mean/2]
    vocab: int

    @property
    def threshold(self) -> int:
        """Emerging-HH threshold: one in 4000 of the test window's tokens."""
        test_tokens = self.pages * self.tokens_per_page // 2
        return max(20, test_tokens // 4000)


def _zipf_sample(rng: np.random.Generator, n_items: int, s: float, size: int) -> np.ndarray:
    """Inverse-CDF sample of ranks 0..n_items-1 with P(k) ~ 1/(k+1)^s."""
    cdf = np.cumsum(1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"), n_items - 1)


def _strings(chars: np.ndarray, lengths: np.ndarray) -> pa.Array:
    """Arrow string array from a (n, width) uint8 matrix of left-aligned chars."""
    mask = np.arange(chars.shape[1])[None, :] < lengths[:, None]
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(lengths), pa.py_buffer(offsets), pa.py_buffer(chars[mask].tobytes())
    )


def _vocabulary(rng: np.random.Generator, n: int) -> pa.Array:
    """``n`` distinct lowercase words of 4..10 letters.

    The last four letters spell a permutation of 0..n-1 in base 26, so words
    are distinct whatever the random prefix is.
    """
    if n > 26**4:
        raise ValueError("vocabulary larger than 26^4 words")
    perm = rng.permutation(n)
    lengths = rng.integers(4, 11, size=n)
    chars = rng.integers(ord("a"), ord("z") + 1, size=(n, 10), dtype=np.uint8)
    digits = np.stack([(perm // 26**j) % 26 for j in range(3, -1, -1)], axis=1)
    rows = np.arange(n)[:, None]
    chars[rows, lengths[:, None] - 4 + np.arange(4)[None, :]] = digits + ord("a")
    return _strings(chars, lengths)


def _planted(shape: Shape) -> list[tuple[str, int, int]]:
    """(token, test_count, control_count) for every planted token."""
    t = shape.threshold
    out = [(f"emg{i}", t + t * i // 4, i) for i in range(N_EMERGING)]
    out += [(f"stb{i}", t + 10 * i, t + 10 * i) for i in range(N_STABLE)]
    out += [("edge0", t - 1, 0), ("edge1", 2 * t, t)]
    return out


@dataclass
class Pages:
    """A generated pages table plus what the checks need to know about it."""

    shape: Shape
    seed: int
    table: pa.Table  # url, host, warc_ts, crawl_ms, text, window
    doc_len: np.ndarray
    vocab: pa.Array  # organic words then planted tokens
    ids: np.ndarray  # vocabulary index per token occurrence, page order
    is_test: np.ndarray
    host_names: pa.Array  # one per host id
    host_id: np.ndarray
    url_key: np.ndarray  # (host_id << 32) | path_id, one per page


def generate(shape: Shape, seed: int) -> Pages:
    rng = np.random.default_rng(seed)
    n = shape.pages
    vocab = _vocabulary(rng, shape.vocab)
    planted = _planted(shape)
    vocab = pa.concat_arrays([vocab, pa.array([p[0] for p in planted], pa.string())])

    lo = max(1, shape.tokens_per_page // 2)
    doc_len = rng.integers(lo, lo + shape.tokens_per_page + 1, size=n)
    offsets = np.concatenate([[0], np.cumsum(doc_len)])
    ids = _zipf_sample(rng, shape.vocab, TOKEN_ZIPF, int(offsets[-1]))

    # pages alternate control/test; planted occurrences overwrite organic slots
    is_test = np.arange(n) % 2 == 1
    slot_test = np.repeat(is_test, doc_len)
    for window_is_test, col in ((True, 1), (False, 2)):
        counts = [p[col] for p in planted]
        slots = np.flatnonzero(slot_test == window_is_test)
        chosen = rng.choice(len(slots), size=sum(counts), replace=False)
        tok = np.repeat(shape.vocab + np.arange(len(planted)), counts)
        ids[slots[chosen]] = tok

    words = vocab.take(pa.array(ids))
    text = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), words), " "
    )

    host_id = _zipf_sample(rng, HOSTS, HOST_ZIPF, n)
    host_names = pc.binary_join_element_wise(
        "www.", _vocabulary(rng, HOSTS), ".example.org", ""
    )
    per_host = np.bincount(host_id, minlength=HOSTS)
    # about 0.8 distinct paths per page of the host: re-crawled URLs repeat
    path_id = (rng.random(n) * np.ceil(0.8 * per_host[host_id])).astype(np.int64)
    hosts = host_names.take(pa.array(host_id))
    url = pc.binary_join_element_wise(
        "https://", hosts, "/p/", pc.cast(pa.array(path_id), pa.string()), ""
    )
    start = np.where(is_test, TEST_START_S, CONTROL_START_S)
    ts_us = (start + rng.integers(0, WINDOW_S, size=n)) * 1_000_000
    crawl_ms = np.round(rng.lognormal(5.5, 0.8, size=n), 3)

    table = pa.table(
        {
            "url": url,
            "host": hosts,
            "warc_ts": pa.array(ts_us, pa.timestamp("us")),
            "crawl_ms": pa.array(crawl_ms, pa.float64()),
            "text": text,
            "window": pa.array(np.where(is_test, "test", "control")),
        }
    )
    return Pages(
        shape, seed, table, doc_len, vocab, ids, is_test, host_names, host_id,
        (host_id.astype(np.int64) << 32) | path_id,
    )


def write(pages: Pages, out_dir: str, cores: int) -> None:
    """Write ``<out_dir>/pages/window=*/part-NNNN.parquet``, ``cores`` files a window.

    With one scan split per file, a scan of both windows gets two tasks a core.
    """
    for window in ("control", "test"):
        sub = pages.table.filter(pc.equal(pages.table["window"], window)).drop(["window"])
        wdir = os.path.join(out_dir, "pages", f"window={window}")
        os.makedirs(wdir, exist_ok=True)
        per = -(-sub.num_rows // cores)
        for i in range(cores):
            pq.write_table(sub.slice(i * per, per), os.path.join(wdir, f"part-{i:04d}.parquet"))


def _top_ngrams(ids: np.ndarray, doc_len: np.ndarray, words: list[str]) -> dict:
    """Per order 2..4, the ``TOP_NGRAMS`` most frequent word n-grams within
    pages, exactly counted.

    Each n-gram is packed into one integer, 16 bits a word, so vocabularies
    stay below 2^16 words.
    """
    if len(words) >= 1 << 16:
        raise ValueError("vocabulary too large to pack n-grams")
    # words left in the page from each position on, this one included
    left = np.repeat(np.cumsum(doc_len), doc_len) - np.arange(len(ids))
    packed = ids.astype(np.uint64)
    out = {}
    for k in (2, 3, 4):
        packed = (packed[:-1] << np.uint64(16)) | ids[k - 1 :].astype(np.uint64)
        uniq, cnt = np.unique(packed[left[: len(packed)] >= k], return_counts=True)
        # the counts at or above the TOP_NGRAMS-th largest, then in order
        floor = np.partition(cnt, max(len(cnt) - TOP_NGRAMS, 0))[max(len(cnt) - TOP_NGRAMS, 0)]
        best = np.flatnonzero(cnt >= floor)
        top = best[np.argsort(-cnt[best], kind="stable")[:TOP_NGRAMS]]
        grams = []
        for u, c in zip(uniq[top].tolist(), cnt[top].tolist()):
            parts = [(u >> (16 * (k - 1 - j))) & 0xFFFF for j in range(k)]
            grams.append([" ".join(words[i] for i in parts), int(c)])
        out[str(k)] = grams
    return out


def answers(pages: Pages) -> dict:
    """Exact answers for every workload, as plain JSON-able values."""
    shape, ids = pages.shape, pages.ids
    n_vocab = len(pages.vocab)
    words = pages.vocab.to_pylist()
    tokens = int(len(ids))
    ngram_values = {
        str(k): int(np.maximum(pages.doc_len - k + 1, 0).sum()) for k in (1, 2, 3, 4)
    }
    counts = np.bincount(ids, minlength=n_vocab)
    top = np.argsort(-counts, kind="stable")[:TOP_TOKENS]
    top_ngrams = _top_ngrams(ids, pages.doc_len, words)

    slot_test = np.repeat(pages.is_test, pages.doc_len)
    test_c = np.bincount(ids[slot_test], minlength=n_vocab)
    ctrl_c = np.bincount(ids[~slot_test], minlength=n_vocab)
    thr = shape.threshold
    hit = np.flatnonzero((test_c >= thr) & (test_c / GROWTH > ctrl_c))
    emerging = sorted([words[i], int(test_c[i]), int(ctrl_c[i])] for i in hit)

    per_host_rows = np.bincount(pages.host_id, minlength=HOSTS)
    uniq_urls = np.unique(pages.url_key)
    per_host_urls = np.bincount((uniq_urls >> 32).astype(np.int64), minlength=HOSTS)
    present = np.flatnonzero(per_host_rows)
    names = pages.host_names.to_pylist()
    crawl = pages.table["crawl_ms"].to_numpy()
    biggest = present[np.argsort(-per_host_rows[present], kind="stable")[:10]]
    return {
        "seed": pages.seed,
        "shape": asdict(shape),
        "pages": shape.pages,
        "tokens": tokens,
        "sketch_build": {
            "n_values": ngram_values,
            "distinct_tokens": int((counts > 0).sum()),
            "top_tokens": [[words[i], int(counts[i])] for i in top],
            "top_ngrams": top_ngrams,
        },
        "keyed_hosts": {
            "hosts": {names[h]: [int(per_host_rows[h]), int(per_host_urls[h])] for h in present},
            "crawl_ms_sorted": {
                names[h]: np.sort(crawl[pages.host_id == h]).tolist() for h in biggest
            },
        },
        "emerging_hh": {"threshold": thr, "growth": GROWTH, "rows": emerging},
    }


def materialize(shape: Shape, seed: int, out_dir: str, cores: int) -> dict:
    """Generate, write parquet and ``answers.json`` under ``out_dir``; return answers."""
    pages = generate(shape, seed)
    write(pages, out_dir, cores)
    ans = answers(pages)
    with open(os.path.join(out_dir, "answers.json"), "w") as f:
        json.dump(ans, f, sort_keys=True)
    return ans
