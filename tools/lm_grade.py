"""LM tier-fidelity grade: Stupid Backoff (the distributed tier,
operators/lm.py) vs interpolated Kneser-Ney (the smoothing CCNet's
actual filter uses — KenLM 5-gram KN; Wenzek et al. 2020) — VERDICT
r7 "What's missing #3", the dsir_grade.py pattern applied to the LM.

Protocol: fit BOTH models on the same train split (doc_id % 5 != 0),
score the held-out split (doc_id % 5 == 0) per document, then compare
the RANKINGS — CCNet consumes the LM only through per-document
perplexity order (keep the low-perplexity head), so rank agreement is
the deployment-relevant fidelity, not absolute ppl values (Stupid
Backoff's scores are deliberately unnormalized; Brants et al. 2007).

The KN reference is from-scratch pure Python (interpolated
Kneser-Ney, fixed discount D=0.75 — Chen & Goodman 1999 eq. 18 with
continuation counts; unseen contexts back off entirely; the unigram
level interpolates with a uniform 1/(V+1) floor so OOV tokens score
finite). Tokenization is identical to the Spark tier's (whitespace
split — functions/tokenize.tokenize, variant 'raw').

Reported per sf: spearman_rho over held-out docs, head_overlap /
tail_overlap (|top-decile ∩ top-decile| / decile size — the CCNet
keep/drop regimes), docs and vocab for context.

Run: python tools/lm_grade.py [sf_dir ...] [--order=N] [--k-frac=F]
(flags take the = form only; defaults: sf0.01 and sf0.1). Prints one
JSON line per sf_dir.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
from collections import Counter, defaultdict

import numpy as np

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

D = 0.75  # the classic KN absolute discount


def _toks(text: str) -> list[str]:
    """EXACT mirror of the Spark tier's raw tokenizer (split(trim(.),
    '\\s+')): trim strips ASCII SPACES only and Java's default \\s is
    the ASCII class — Python's Unicode-aware strip()/\\s would drop
    phantom ''-token and NBSP cases the Spark side keeps, skewing the
    very per-doc denominators this tool compares (round-8 review
    fix; the divergence classes are the ones
    tests/test_property_validation.py pins)."""
    if text is None:
        return []
    return re.split(r"\s+", text.strip(" "), flags=re.ASCII)


class KneserNey:
    """Interpolated KN with fixed discount, arbitrary order."""

    def __init__(self, docs_tokens: list[list[str]], order: int) -> None:
        self.order = order
        # c[m][gram] raw counts; cont[m][gram] = N1+(. gram) types;
        # mid[m][ctx] = N1+(ctx .) distinct continuations of ctx
        self.c = [Counter() for _ in range(order + 1)]
        # ctxtot[m][ctx]: occurrences of ctx FOLLOWED by a token — the
        # top-level KN denominator (raw c(ctx) would count end-of-doc
        # occurrences, leaving zero probability mass on contexts that
        # only ever close a document)
        self.ctxtot = [Counter() for _ in range(order + 1)]
        self.follow = [defaultdict(set) for _ in range(order + 1)]
        self.precede = [defaultdict(set) for _ in range(order + 1)]
        for t in docs_tokens:
            for m in range(1, order + 1):
                for i in range(len(t) - m + 1):
                    g = tuple(t[i:i + m])
                    self.c[m][g] += 1
                    if m > 1:
                        self.ctxtot[m - 1][g[:-1]] += 1
            for m in range(1, order):
                for i in range(len(t) - m):
                    ctx, nxt = tuple(t[i:i + m]), t[i + m]
                    self.follow[m][ctx].add(nxt)
                for i in range(1, len(t) - m + 1):
                    g, prev = tuple(t[i:i + m]), t[i - 1]
                    self.precede[m][g].add(prev)
        self.vocab = len(self.c[1])
        # continuation-unigram base: N1+(. w) / N1+(. .)
        self.cont_total = sum(len(s) for s in self.precede[1].values())

    def _p_cont_unigram(self, w: str) -> float:
        # interpolate with uniform so OOV stays finite (the KenLM
        # <unk> role); mass split 1:1 via a tiny lambda is enough for
        # a RANKING reference — keep it simple and monotone in counts
        uni = (
            len(self.precede[1].get((w,), ())) / self.cont_total
            if self.cont_total else 0.0
        )
        floor = 1.0 / (self.vocab + 1)
        return 0.9 * uni + 0.1 * floor

    def prob(self, ctx: tuple[str, ...], w: str) -> float:
        """P_KN(w | ctx) with full interpolation down to unigrams."""
        if not ctx:
            return self._p_cont_unigram(w)
        m = len(ctx)
        if m == self.order - 1:
            den = self.ctxtot[m][ctx]
            num = self.c[m + 1][ctx + (w,)]
        else:
            # lower levels use continuation counts (Chen & Goodman)
            den = self._cont_den(ctx)
            num = len(self.precede[m + 1].get(ctx + (w,), ()))
        if den == 0:
            return self.prob(ctx[1:], w)
        types = len(self.follow[m].get(ctx, ()))
        lam = D * types / den
        return max(num - D, 0.0) / den + lam * self.prob(ctx[1:], w)

    def _cont_den(self, ctx: tuple[str, ...]) -> int:
        # N1+(. ctx .) = sum over continuations w of N1+(. ctx w):
        # equal to the number of distinct (prev, ctx, next) triples —
        # computed as sum of precede sizes over follow set
        m = len(ctx)
        total = 0
        for nxt in self.follow[m].get(ctx, ()):
            total += len(self.precede[m + 1].get(ctx + (nxt,), ()))
        return total

    def doc_log10_ppl(self, tokens: list[str]) -> float | None:
        if not tokens:
            return None
        s = 0.0
        for i, w in enumerate(tokens):
            ctx = tuple(tokens[max(0, i - self.order + 1):i])
            s += math.log10(self.prob(ctx, w))
        return -s / len(tokens)


def spearman(a: np.ndarray, b: np.ndarray) -> float:
    ra = np.argsort(np.argsort(a))
    rb = np.argsort(np.argsort(b))
    if len(a) < 2:
        return float("nan")
    return float(np.corrcoef(ra, rb)[0, 1])


def grade(sf_dir: str, order: int, k_frac: float) -> dict:
    from pyspark.sql import functions as F

    from gus_spark.operators.lm import fit_ngram_lm, perplexity_score
    from gus_spark.queries import table
    from gus_spark.session import get_spark

    spark = get_spark(app_name="gus_spark-lm-grade")
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)

    # --- Stupid-Backoff tier (the engine under grade)
    lm = fit_ngram_lm(train, order=order)
    sb = {
        r["doc_id"]: r["log10_ppl"]
        for r in perplexity_score(held, lm, order=order).collect()
        if r["log10_ppl"] is not None
    }

    # --- pure-Python KN reference on the identical tokenization
    train_toks = [
        _toks(r["text"])
        for r in train.select("text").collect()
        if r["text"] is not None
    ]
    kn_model = KneserNey(train_toks, order)
    kn = {}
    for r in held.select("doc_id", "text").collect():
        if r["text"] is None:
            continue
        v = kn_model.doc_log10_ppl(_toks(r["text"]))
        if v is not None:
            kn[r["doc_id"]] = v

    ids = sorted(set(sb) & set(kn))
    a = np.array([sb[i] for i in ids])
    b = np.array([kn[i] for i in ids])
    k = max(1, int(len(ids) * k_frac))
    head_sb = {ids[j] for j in np.argsort(a)[:k]}
    head_kn = {ids[j] for j in np.argsort(b)[:k]}
    tail_sb = {ids[j] for j in np.argsort(a)[-k:]}
    tail_kn = {ids[j] for j in np.argsort(b)[-k:]}
    out = {
        "sf_dir": sf_dir,
        "order": order,
        "docs_held": len(ids),
        "vocab": kn_model.vocab,
        "spearman_rho": round(spearman(a, b), 4),
        "head_overlap": round(len(head_sb & head_kn) / k, 4),
        "tail_overlap": round(len(tail_sb & tail_kn) / k, 4),
        "decile": k,
    }
    spark.stop()
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    order = 3
    k_frac = 0.1
    for a in sys.argv[1:]:
        if a.startswith("--order"):
            if "=" not in a:
                raise SystemExit("use --order=N (the = form)")
            order = int(a.split("=", 1)[1])
        if a.startswith("--k-frac"):
            if "=" not in a:
                raise SystemExit("use --k-frac=F (the = form)")
            k_frac = float(a.split("=", 1)[1])
    dirs = args or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    for d in dirs:
        print(json.dumps(grade(d, order, k_frac)))


if __name__ == "__main__":
    main()
