"""Output checks: every timed job's result against the generator's exact answers.

Each checker returns a list of problems; an empty list means the output is
correct.  Value and row counts must match exactly, and so must the weight each
Count-Min state took in.  Sketch estimates are held to their guarantees:
Count-Min with conservative update never underestimates, a Bloom filter has no
false negatives, HyperLogLog lies within 3 sigma of the exact distinct count,
KLL within three times its rank error.  Emerging heavy hitters are exact.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from sketch_spark.core import sketch_from_bytes
from sketch_spark.functions.text import ngram_occurrences


def _exact(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got}, want {want}")


def _hll_within(problems: list[str], what: str, est: float, exact: float, sigma: float) -> None:
    if abs(est - exact) > 3 * sigma:
        problems.append(f"{what}: estimate {est:.1f} vs exact {exact} beyond 3 sigma ({sigma:.1f})")


def sketch_build(result, ans: dict) -> list[str]:
    """``result`` is the ``SketchResult`` of the fused pass (see ``run.sketch_specs``)."""
    want = ans["sketch_build"]
    problems: list[str] = []
    for order, n_values in want["n_values"].items():
        m = result.metrics[(f"cmcu{order}",)]
        _exact(problems, f"cmcu{order} n_values", m["n_values"], n_values)
        _exact(problems, f"cmcu{order} n_rows", m["n_rows"], ans["pages"])
        _exact(problems, f"cmcu{order} state total", result.sketch(f"cmcu{order}").total, n_values)
    for name in ("hll", "bloom"):
        _exact(problems, f"{name} n_values", result.metrics[(name,)]["n_values"], ans["tokens"])

    hll = result.sketch("hll")
    exact = want["distinct_tokens"]
    _hll_within(problems, "hll distinct tokens", hll.estimate(), exact, hll.relative_error * exact)

    tokens = [t for t, _ in want["top_tokens"]]
    counts = np.array([c for _, c in want["top_tokens"]])
    est = np.asarray(result.sketch("cmcu1").estimate_tokens(tokens))
    under = np.flatnonzero(est < counts)
    if len(under):
        i = int(under[0])
        problems.append(
            f"cmcu1 underestimates {len(under)} top tokens, e.g. {tokens[i]!r}: {est[i]} < {counts[i]}"
        )
    for order, top in want["top_ngrams"].items():
        sk = result.sketch(f"cmcu{order}")
        grams = [g for g, _ in top]
        counts = np.array([c for _, c in top])
        keys, _ = ngram_occurrences(pa.array(grams, pa.string()), sk.seed, int(order))
        est = np.asarray(sk.estimate_hashed(keys))
        under = np.flatnonzero(est < counts)
        if len(under):
            i = int(under[0])
            problems.append(
                f"cmcu{order} underestimates {len(under)} top n-grams, e.g. {grams[i]!r}: {est[i]} < {counts[i]}"
            )
    missing = np.flatnonzero(~np.asarray(result.sketch("bloom").contains_tokens(tokens)))
    if len(missing):
        problems.append(f"bloom misses {len(missing)} present tokens, e.g. {tokens[int(missing[0])]!r}")
    return problems


def keyed_hosts(table: pa.Table, ans: dict) -> list[str]:
    """``table`` holds the rows of ``keyed_sketch_aggregate`` (host, spec, state, ...)."""
    want = ans["keyed_hosts"]
    hosts = want["hosts"]
    problems: list[str] = []
    cols = table.select(["host", "spec", "n_rows", "n_values"]).to_pydict()
    states = table["state"]
    seen: dict[str, dict[str, int]] = {"hll": {}, "kll": {}}
    for i, (host, spec) in enumerate(zip(cols["host"], cols["spec"])):
        if host in seen[spec]:
            problems.append(f"host {host!r} has two {spec} rows")
        seen[spec][host] = i
    sum_est = sum_exact = var = 0.0
    for spec, rows in seen.items():
        _exact(problems, f"{spec} host count", len(rows), len(hosts))
        for host, i in rows.items():
            if host not in hosts:
                problems.append(f"unexpected host {host!r}")
                continue
            n_rows, n_urls = hosts[host]
            if cols["n_rows"][i] != n_rows or cols["n_values"][i] != n_rows:
                _exact(problems, f"{spec} {host} (n_rows, n_values)",
                       (cols["n_rows"][i], cols["n_values"][i]), (n_rows, n_rows))
            if spec != "hll":
                continue
            hll = sketch_from_bytes(states[i].as_py())
            est = hll.estimate()
            sigma = hll.relative_error * n_urls
            # per host: a gross-error guard (small hosts see whole-register
            # collisions); the 3 sigma test applies to the sum over hosts
            if abs(est - n_urls) > 2 * (3 * sigma + 2):
                problems.append(f"hll {host}: estimate {est:.1f} vs exact {n_urls}")
            sum_est += est
            sum_exact += n_urls
            var += sigma * sigma
    if seen["hll"]:
        _hll_within(problems, "hll distinct urls summed over hosts", sum_est, sum_exact, var**0.5)
    for host, crawl in want["crawl_ms_sorted"].items():
        i = seen["kll"].get(host)
        if i is None:
            continue
        kll = sketch_from_bytes(states[i].as_py())
        median = float(kll.quantile(0.5))
        rank = np.searchsorted(np.asarray(crawl), median, side="right") / len(crawl)
        if abs(rank - 0.5) > 3 * kll.normalized_rank_error() + 1.0 / len(crawl):
            problems.append(f"kll {host}: median {median} sits at rank {rank:.3f}")
    return problems


def emerging(candidates: dict[str, int], rows: list, ans: dict) -> list[str]:
    """``candidates`` maps each test-window candidate token to its count;
    ``rows`` are the (token, freq, control_count) rows of the exact query."""
    want = ans["emerging_hh"]["rows"]
    problems: list[str] = []
    for token, test_count, _ in want:
        _exact(problems, f"candidate {token!r} test count", candidates.get(token), test_count)
    _exact(problems, "emerging rows", sorted([t, int(f), int(c)] for t, f, c in rows), want)
    return problems
