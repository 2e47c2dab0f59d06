"""Unit tests for the repetition-metrics and PII-redaction operators
(their catalog probes are oracle-checked end-to-end; these pin the
operator-level contracts and edge cases)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import reference_ops  # noqa: E402


def _collect_metrics(spark, rows, metrics=None):
    from gus_spark.operators.repetition import repetition_metrics

    frame = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: tuple(r)[1:]
        for r in (metrics or repetition_metrics)(
            frame, "doc_id", "text"
        ).collect()
    }


REP_ROWS = [
    (0, "a b c a b c a b c"),          # heavy token+bigram repetition
    (1, "w x y z"),                    # all distinct
    (2, "solo"),                       # 1 token -> zero bigrams
    (3, ""),                           # split('') -> [''] -> 1 token
    (4, "t t t t t t"),                # one token repeated
    (5, None),                         # dropped (null text)
    (6, " ".join(f"w{i % 7}" for i in range(200))),  # long cyclic doc
]


def test_repetition_engines_identical(spark):
    """The zero-shuffle Arrow kernel and the explode/groupBy expression
    reference (tests/reference_ops.py) must return identical integers
    for every doc."""
    a = _collect_metrics(spark, REP_ROWS)
    j = _collect_metrics(spark, REP_ROWS, reference_ops.repetition_metrics)
    assert a == j
    assert 5 not in a  # null text dropped by both


def test_repetition_counts_exact(spark):
    """Hand-checked counts: the metric definitions, not just parity."""
    a = _collect_metrics(spark, REP_ROWS)
    # doc 0: 9 tokens of 3 kinds; 8 bigrams, 4 kinds ("a b" x3, "b c"
    # x3, "c a" x2 ... wait: grams are (a b)(b c)(c a)(a b)(b c)(c a)
    # (a b)(b c) -> "a b" x3, "b c" x3, "c a" x2 = 3 kinds
    assert a[0] == (9, 3, 3, 8, 3, 3)
    assert a[1] == (4, 4, 1, 3, 3, 1)
    assert a[2] == (1, 1, 1, 0, 0, 0)
    assert a[3] == (1, 1, 1, 0, 0, 0)  # split('') -> ['']
    assert a[4] == (6, 1, 6, 5, 1, 5)
    # doc 6: 200 tokens cycling 7 kinds; 199 bigrams cycling 7 kinds
    n, u, top, nb, ub, topb = a[6]
    assert (n, u, nb, ub) == (200, 7, 199, 7)
    assert top == 29 and topb == 29  # ceil(200/7)=29; bigram cycle too


def test_redact_patterns_and_counts(spark):
    """Each pattern class redacts its span with the typed placeholder
    and reports the hit count; non-PII text passes through unchanged."""
    from gus_spark.operators.redact import redact_pii

    rows = [
        (0, "mail alice.smith+x@sub.example.org now"),
        (1, "host 192.168.001.200 and 10.0.0.1 up"),
        (2, "call +4915712345678 today"),
        (3, "ssn 078-05-1120 leaked"),
        (4, "card 4111 1111-1111 1111 on file"),
        (5, "nothing sensitive here 12345"),
        (6, "a@b.io or c.d@e.co and +1234567x"),
    ]
    frame = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in redact_pii(frame).collect()}
    assert got[0]["text"] == "mail <EMAIL> now"
    assert got[0]["n_email"] == 1
    assert got[1]["text"] == "host <IP> and <IP> up"
    assert got[1]["n_ip"] == 2
    assert got[2]["text"] == "call <PHONE> today"
    assert got[3]["text"] == "ssn <SSN> leaked"
    assert got[4]["text"] == "card <CARD> on file"
    assert got[5]["text"] == "nothing sensitive here 12345"
    assert all(got[5][f"n_{k}"] == 0
               for k in ("email", "ssn", "card", "ip", "phone"))
    # two emails on one row; +1234567x: 7 digits then a word char ->
    # no \b at the x boundary... 'x' IS a word char and digits->x is
    # not a boundary, so the match must NOT end there; backtracking
    # cannot shorten below 7 digits with a boundary either -> no match
    assert got[6]["n_email"] == 2
    assert got[6]["n_phone"] == 0


def test_redact_python_re_twin():
    """The pattern subset must behave identically under Python re (the
    third engine the docstring claims); guards against Java-only syntax
    creeping into PII_PATTERNS."""
    import re

    from gus_spark.operators.redact import PII_PATTERNS

    text = (
        "u1@example.com 10.2.0.7 +15550001111 078-05-1120 "
        "4111 1111 1111 1111"
    )
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = re.sub(pattern, token, out)
    assert out == "<EMAIL> <IP> <PHONE> <SSN> <CARD>"
