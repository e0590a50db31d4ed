"""Output checks computed apart from the program.

Nothing here imports the package under test: ROUGE is re-implemented with a
bit-parallel LCS (not the dynamic program the engine uses), statistics and
the best-model table are recomputed from the recomputed scores, and the
first-k closed form is plain string slicing.
"""

from __future__ import annotations

import math
import re
from collections import Counter

TOL = 1e-9

# Tokens the program's own prompt templates may splice into a summary: the
# critique reduce tags each member "[PHẦN i]", the mock critic's refine
# prepends "[refined]", and the LLM critic's refine prompt holds the
# headings below and a "---" separator after the summary it quotes.
_TEMPLATE_TOKEN = re.compile(r"^(\[PHẦN|\d+\]|\[refined\]|PHÊ|BÌNH:|GỐC:|---)$")


def first_k(text: str, k: int) -> str:
    return " ".join(text.split()[:k])


def _ngram_f1(g: list[str], r: list[str], n: int) -> float:
    gc = Counter(zip(*(g[i:] for i in range(n))))
    rc = Counter(zip(*(r[i:] for i in range(n))))
    lg, lr = sum(gc.values()), sum(rc.values())
    overlap = sum((gc & rc).values())
    if not lg or not lr or not overlap:
        return 0.0
    p, rec = overlap / lg, overlap / lr
    return 2 * p * rec / (p + rec)


def lcs_len(a: list[str], b: list[str]) -> int:
    """LCS length by the bit-vector recurrence (Hyyrö): one big-int update
    per token of ``b``; the count of zero bits left in the first ``len(a)``
    positions is the LCS length."""
    if not a or not b:
        return 0
    masks: dict[str, int] = {}
    for i, tok in enumerate(a):
        masks[tok] = masks.get(tok, 0) | (1 << i)
    full = (1 << len(a)) - 1
    v = full
    for tok in b:
        u = v & masks.get(tok, 0)
        v = ((v + u) | (v - u)) & full
    return len(a) - bin(v).count("1")


class Rouge:
    """ROUGE-1/2/L F1 over whitespace tokens, memoised per (gen, ref)."""

    def __init__(self) -> None:
        self._memo: dict[tuple[str, str], tuple[float, float, float]] = {}

    def __call__(self, gen: str, ref: str) -> tuple[float, float, float]:
        key = (gen, ref)
        hit = self._memo.get(key)
        if hit is not None:
            return hit
        g, r = gen.split(), ref.split()
        lcs = lcs_len(g, r)
        if lcs:
            p, rec = lcs / len(g), lcs / len(r)
            rl = 2 * p * rec / (p + rec)
        else:
            rl = 0.0
        out = (_ngram_f1(g, r, 1), _ngram_f1(g, r, 2), rl)
        self._memo[key] = out
        return out

    @staticmethod
    def lcs_cells(gen: str, ref: str) -> int:
        """Cells of the dynamic-programming LCS table for this pair."""
        return len(gen.split()) * len(ref.split())


def close(a: float, b: float, tol: float = TOL) -> bool:
    return abs(a - b) <= tol


def moments(values: list[float]) -> tuple[float, float, float, float]:
    n = len(values)
    mean = math.fsum(values) / n
    var = math.fsum((v - mean) ** 2 for v in values) / n
    return mean, math.sqrt(var), min(values), max(values)


def check_statistics(
    stat_rows: list[dict],
    scores: dict[tuple, list[tuple[float, float, float]]],
    program_r1: dict[tuple, list[float]],
    key_cols: list[str],
) -> list[str]:
    """``stat_rows``: the program's summary_statistics rows. ``scores``: the
    recomputed (r1, r2, rl) triples per group key; moments are recomputed
    from these. ``program_r1``: the program's own ROUGE-1 scores per group,
    already checked against ``scores`` within ``TOL``; the histogram is
    recounted from them, because a score within ``TOL`` of a bucket edge
    (0.4 = 2/5 is common on short texts) may fall on either side. Returns
    failure notes."""
    bad = []
    seen = set()
    for row in stat_rows:
        key = tuple(row[c] for c in key_cols)
        seen.add(key)
        triples = scores.get(key)
        if not triples:
            bad.append(f"statistics row for unknown group {key}")
            continue
        if row["n"] != len(triples):
            bad.append(f"{key}: n {row['n']} != {len(triples)}")
        for j, m in enumerate(("rouge1_f", "rouge2_f", "rougeL_f")):
            want = moments([t[j] for t in triples])
            got = (row[f"{m}_mean"], row[f"{m}_std"], row[f"{m}_min"], row[f"{m}_max"])
            if not all(close(a, b) for a, b in zip(got, want)):
                bad.append(f"{key}: {m} moments {got} != {want}")
        r1 = program_r1.get(key, [])
        hist = (
            sum(1 for v in r1 if v >= 0.7),
            sum(1 for v in r1 if 0.4 <= v < 0.7),
            sum(1 for v in r1 if v < 0.4),
        )
        if (row["n_high"], row["n_mid"], row["n_low"]) != hist:
            bad.append(f"{key}: histogram {(row['n_high'], row['n_mid'], row['n_low'])} != {hist}")
    missing = set(scores) - seen
    if missing:
        bad.append(f"statistics missing groups {sorted(missing)[:3]}")
    return bad


def check_best(got: dict, scores: dict[tuple, list[tuple[float, float, float]]]) -> str | None:
    """``got``: ``{model: (approach, score)}``, the program's best approach by
    mean ROUGE-1 per model. The winner's recomputed mean must be the largest
    (within ``TOL``: approaches with identical summaries tie, and their means
    may differ in the last bit) and its score must match it. Returns a
    failure note or None."""
    means: dict = {}
    for (approach, model), triples in scores.items():
        means.setdefault(model, {})[approach] = math.fsum(t[0] for t in triples) / len(triples)
    if set(got) != set(means):
        return f"models {sorted(got)} != {sorted(means)}"
    for model, (approach, score) in got.items():
        cand = means[model]
        if approach not in cand:
            return f"{model}: unknown approach {approach}"
        if cand[approach] < max(cand.values()) - TOL or not close(score, cand[approach]):
            return f"{model}: {approach} {score} is not the best of {cand}"
    return None


def check_property_summary(summary: str, doc_tokens: set[str], k: int) -> str | None:
    """Critique / hierarchical summaries: at most k tokens (plus one per
    refine marker), every token a document token (a trailing ':' from a
    "title:" splice allowed) or a prompt-template token."""
    toks = summary.split()
    extra = sum(1 for t in toks if t == "[refined]")
    if not toks:
        return "empty summary"
    if len(toks) > k + extra:
        return f"{len(toks)} tokens > k={k}"
    for t in toks:
        if t in doc_tokens or t.rstrip(":") in doc_tokens or _TEMPLATE_TOKEN.match(t):
            continue
        return f"token {t!r} not in document or template"
    return None
