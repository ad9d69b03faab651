"""Correctness gate: every output is compared with the exact DuckDB
answers from `inputs`. A check returns a list of problems (empty = pass)
and never raises, so a bad blob is counted as a failed operation instead
of aborting the run.

Published bounds used (ratio = |error| / bound, must be ≤ 1):
  hll      5 · 1.04/√m · exact distinct (five standard errors: 8
           sources × many seeds make a 3σ gate fail on correct code)
  cms      est ≥ exact always; est − exact ≤ εN, ε = e/width, top tokens
  kll,     normalized rank error ≤ RANK_EPS + 1/n at QS, measured against
  tdigest  the exact rank interval [P(X<v), P(X≤v)] (n_tok has ties)
  bloom    no false negative over every distinct token of the source
  moments  n, min, max, Σx and Σx² exactly equal
  theta    per-key estimate exactly equal (every set is below k)
"""

from __future__ import annotations

import math

import numpy as np

QS = (0.01, 0.25, 0.5, 0.75, 0.99)
RANK_EPS = 0.02
# kinds whose merge is order-independent, so streamed, checkpointed and
# one-shot builds of the same rows must give the same bytes
BYTE_STABLE = ("hll", "bloom", "moments")


def _rank_error(sorted_vals: np.ndarray, q: float, v: float) -> float:
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, v, side="left") / n
    hi = np.searchsorted(sorted_vals, v, side="right") / n
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


def suite(blobs: dict, specs: dict, exact) -> tuple[list[str], float]:
    """Check per-source blobs {(source, spec name): bytes} of the sketch
    suite. Returns (problems, largest error/bound ratio)."""
    from sgp_sketch.kernels import registry

    scal, arrays = exact
    problems: list[str] = []
    ratio_max = 0.0
    sources = scal["sources"]
    want = {(s, name) for s in sources for name in specs}
    if set(blobs) != want:
        problems.append(f"blob keys differ: missing "
                        f"{sorted(want - set(blobs))[:4]}, extra "
                        f"{sorted(set(blobs) - want)[:4]}")
    for (src, name), blob in sorted(blobs.items()):
        if src not in sources or name not in specs:
            continue
        ref = sources[src]
        kind = specs[name]["kind"]
        params = specs[name].get("params") or {}
        where = f"{src}/{name}"
        try:
            st = registry.from_bytes(blob)
            if kind == "hll":
                bound = 5 * 1.04 / math.sqrt(1 << params.get("p", 14)) \
                    * ref["distinct"]
                r = abs(st.estimate() - ref["distinct"]) / bound
                ratio_max = max(ratio_max, r)
                if not r <= 1:
                    problems.append(f"{where}: estimate {st.estimate():.1f}"
                                    f" vs exact {ref['distinct']}")
            elif kind == "cms":
                toks = np.array([t for t, _ in ref["top"]], dtype=np.int64)
                cnt = np.array([c for _, c in ref["top"]], dtype=np.int64)
                est = st.estimate(toks)
                eps_n = math.e / params.get("width", 1 << 14) * \
                    ref["n_tokens"]
                r = float(np.max((est - cnt) / eps_n)) if toks.size else 0.0
                ratio_max = max(ratio_max, r)
                if np.any(est < cnt) or not r <= 1:
                    problems.append(f"{where}: top-token counts {est.tolist()}"
                                    f" vs exact {cnt.tolist()}")
            elif kind == "bloom":
                probe = arrays[f"distinct/{src}"]
                misses = int(probe.size - np.count_nonzero(st.contains(probe)))
                if misses:
                    problems.append(f"{where}: {misses} false negatives")
            elif kind in ("kll", "tdigest"):
                vals = arrays[f"ntok/{src}"]
                got = st.quantiles(np.array(QS))
                err = max(_rank_error(vals, q, v) for q, v in zip(QS, got))
                # one rank step of slack: with n values a quantile can be
                # off by 1/n from interpolation alone
                bound = RANK_EPS + 1.0 / vals.size
                ratio_max = max(ratio_max, err / bound)
                if not err <= bound:
                    problems.append(f"{where}: rank error {err:.4f}")
            elif kind == "moments":
                got = (st.n, st.mn, st.mx, st.s[0], st.s[1])
                exp = (ref["n_docs"], ref["ntok_min"], ref["ntok_max"],
                       ref["ntok_sum"], ref["ntok_sumsq"])
                if tuple(int(x) for x in got) != exp:
                    problems.append(f"{where}: power sums {got} vs {exp}")
            else:
                problems.append(f"{where}: no check for kind {kind}")
        except Exception as e:  # a corrupt blob is a failed output
            problems.append(f"{where}: {type(e).__name__}: {e}")
    return problems, ratio_max


def per_key(est: dict, exact) -> list[str]:
    """Per-doc theta estimates {doc_id: float} must equal COUNT(DISTINCT)."""
    _, arrays = exact
    ids, want = arrays["doc/id"], arrays["doc/distinct"]
    problems = []
    if len(est) != ids.size:
        problems.append(f"{len(est)} keys vs {ids.size} exact")
    bad = [(k, est.get(k), int(w)) for k, w in zip(ids.tolist(), want)
           if est.get(k) != w]
    if bad:
        problems.append(f"{len(bad)} per-key mismatches, e.g. {bad[:3]}")
    return problems


def byte_equal(a: dict, b: dict, specs: dict, what: str) -> list[str]:
    """Blobs of the order-independent kinds must be identical."""
    keys = [k for k in a if specs[k[1]]["kind"] in BYTE_STABLE]
    diff = [k for k in keys if a.get(k) != b.get(k)]
    if not keys:
        return [f"{what}: nothing to compare"]
    return [f"{what}: {len(diff)} blobs differ, e.g. {diff[:3]}"] if diff \
        else []
