"""Boilerplate removal (operators/boilerplate.py — the C4 line rule).

Contracts pinned here:
- exact tier bit-parity with the DuckDB twins (flag set AND rebuilt
  text) on a seeded sf0.01-derived corpus — both engines construct,
  then cut, identical line-structured strings (the redact_pii seeding
  precedent: the synthetic corpus has no organic line structure);
- from-scratch pure-Python parity for flagging and removal;
- canonical-copy policy: keep_first retains exactly the lowest
  doc_id's copy (the exact_substring_dedup convention); strict C4
  cuts everywhere;
- certified sketch tier == exact tier at lossless capacity, and the
  Misra-Gries certificate filter only ever SHRINKS the flag set;
- degenerate inputs (all-blank docs, min_docs < 2) behave as
  documented.
"""

import os
import re
import sys
from collections import defaultdict

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE
from oracle_harness import frame_key
from reference_ops import sql_boilerplate_lines

from gus_spark.operators.boilerplate import (
    MIN_DOCS,
    boilerplate_lines,
    certified_boilerplate_lines,
    remove_boilerplate,
    sql_remove_boilerplate,
)
from gus_spark.queries import table

#: Seeded line structure over the sf0.01 documents: every doc's text
#: becomes its first tokens split into two content lines, plus
#: boilerplate lines injected by doc_id residue — a cookie banner on
#: every doc, a newsletter plug on every 2nd, a footer on every 5th,
#: and a NEAR-boilerplate line on 3 fixed docs (below the >=4
#: threshold: must NOT be flagged).
BANNER = "accept all cookies to continue"
PLUG = "subscribe to our weekly newsletter"
FOOTER = "copyright example corp all rights reserved"
RARE = "limited time offer ends soon"


def _seeded_sql() -> str:
    return f"""
    SELECT doc_id,
           array_to_string(ws[1:5], ' ') || chr(10) ||
           '{BANNER}' || chr(10) ||
           array_to_string(ws[6:10], ' ') ||
           CASE WHEN doc_id % 2 = 0
                THEN chr(10) || '{PLUG}' ELSE '' END ||
           CASE WHEN doc_id % 5 = 0
                THEN chr(10) || '{FOOTER}' ELSE '' END ||
           CASE WHEN doc_id IN (11, 23, 42)
                THEN chr(10) || '{RARE}' ELSE '' END
             AS text
    FROM (SELECT doc_id,
                 string_split_regex(TRIM(text), '\\s+') AS ws
          FROM documents)
    """


def _seeded_spark(docs):
    ws = F.split(F.trim(F.col("text")), r"\s+")
    doc_id = F.col("doc_id")
    text = F.concat(
        F.array_join(F.slice(ws, 1, 5), " "),
        F.lit("\n" + BANNER + "\n"),
        F.array_join(F.slice(ws, 6, 5), " "),
        F.when(doc_id % 2 == 0, F.lit("\n" + PLUG)).otherwise(F.lit("")),
        F.when(doc_id % 5 == 0, F.lit("\n" + FOOTER)).otherwise(
            F.lit("")
        ),
        F.when(doc_id.isin(11, 23, 42), F.lit("\n" + RARE)).otherwise(
            F.lit("")
        ),
    )
    return docs.select("doc_id", text.alias("text"))


@pytest.fixture(scope="module")
def seeded(spark):
    return _seeded_spark(table(spark, SF_DIR_ORACLE, "documents"))


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR_ORACLE}/documents.parquet'"
    )
    c.execute(f"CREATE VIEW seeded AS {_seeded_sql()}")
    return c


def test_flag_tier_matches_duckdb_twin(seeded, con):
    got = boilerplate_lines(seeded).toPandas()
    odf = con.execute(
        sql_boilerplate_lines(table="seeded")
    ).df()
    assert frame_key(got) == frame_key(odf)
    flagged = set(got["line"])
    assert {BANNER, PLUG, FOOTER} <= flagged
    assert RARE not in flagged  # 3 docs < MIN_DOCS=4


def test_removal_matches_duckdb_twin(seeded, con):
    got = remove_boilerplate(seeded).toPandas()
    odf = con.execute(
        sql_remove_boilerplate(table="seeded")
    ).df()
    assert frame_key(got) == frame_key(odf)
    # strict C4 form too
    got2 = remove_boilerplate(seeded, keep_first=False).toPandas()
    odf2 = con.execute(
        sql_remove_boilerplate(table="seeded", keep_first=False)
    ).df()
    assert frame_key(got2) == frame_key(odf2)


def _python_remove(rows, min_docs, keep_first):
    """From-scratch twin: trim/non-empty lines, doc-frequency flag,
    lowest-doc_id canonical keeper, order-preserving rebuild."""
    lines = {}
    for doc_id, text in rows:
        if text is None:
            continue
        ls = [s.strip() for s in text.split("\n")]
        lines[doc_id] = [(i, s) for i, s in enumerate(ls) if s != ""]
    docs_of = defaultdict(set)
    for doc_id, ls in lines.items():
        for _i, s in ls:
            docs_of[s].add(doc_id)
    flagged = {
        s: min(ids) for s, ids in docs_of.items() if len(ids) >= min_docs
    }
    out = {}
    for doc_id, ls in lines.items():
        kept, removed = [], 0
        for _i, s in ls:
            if s in flagged and not (
                keep_first and doc_id == flagged[s]
            ):
                removed += 1
            else:
                kept.append(s)
        out[doc_id] = ("\n".join(kept), len(kept), removed)
    return flagged, out


@pytest.mark.parametrize("keep_first", [True, False])
def test_matches_pure_python(seeded, keep_first):
    rows = [(r.doc_id, r.text) for r in seeded.collect()]
    flagged, want = _python_remove(rows, MIN_DOCS, keep_first)

    got_flag = {
        r.line: (r.n_docs, r.keep_doc_id)
        for r in boilerplate_lines(seeded).collect()
    }
    assert set(got_flag) == set(flagged)
    for line, keeper in flagged.items():
        assert got_flag[line][1] == keeper

    got = {
        r.doc_id: (r.text, r.n_lines_kept, r.n_lines_removed)
        for r in remove_boilerplate(seeded, keep_first=keep_first).collect()
    }
    assert got == want


def test_canonical_copy_policy(spark):
    """The lowest doc_id containing a flagged line keeps its copy;
    everyone else loses it; strict C4 cuts it everywhere."""
    df = spark.createDataFrame(
        [
            (3, "unique three\nthe banner line"),
            (1, "the banner line\nunique one"),
            (2, "unique two\nthe banner line\nmore two"),
            (9, "the banner line"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r.text
        for r in remove_boilerplate(df, min_docs=4).collect()
    }
    assert out[1] == "the banner line\nunique one"  # canonical keeper
    assert out[2] == "unique two\nmore two"
    assert out[3] == "unique three"
    assert out[9] == ""  # nothing but boilerplate survives -> empty

    strict = {
        r.doc_id: r.text
        for r in remove_boilerplate(
            df, min_docs=4, keep_first=False
        ).collect()
    }
    assert strict[1] == "unique one"


def test_certified_tier_matches_exact_at_lossless_capacity(seeded):
    """capacity above the distinct-line count makes the MG summary
    lossless: the certified sketch tier flags exactly the exact
    tier's lines with exact doc frequencies and keepers; feeding it
    to remove_boilerplate reproduces the exact-tier cut."""
    exact = {
        (r.line, r.n_docs, r.keep_doc_id)
        for r in boilerplate_lines(seeded).collect()
    }
    cert = certified_boilerplate_lines(seeded, k=2000, capacity=8192)
    got = {
        (r.line, r.n_docs, r.keep_doc_id) for r in cert.collect()
    }
    assert got == exact

    via_sketch = remove_boilerplate(seeded, flagged=cert).toPandas()
    via_exact = remove_boilerplate(seeded).toPandas()
    assert frame_key(via_sketch) == frame_key(via_exact)


def test_tier_parameter_routes_certified(seeded):
    """remove_boilerplate(tier='certified') feeds the certified
    sketch tier's flags straight through — at lossless capacity the
    cut is identical to the exact tier's (the drop-in contract), and
    an unknown tier fails loudly."""
    via_param = remove_boilerplate(seeded, tier="certified").toPandas()
    via_exact = remove_boilerplate(seeded).toPandas()
    assert frame_key(via_param) == frame_key(via_exact)
    with pytest.raises(ValueError, match="tier"):
        remove_boilerplate(seeded, tier="sketchy")


def test_saturation_signal(spark):
    """The top-k truncation signal (ADVICE r9): when more lines clear
    min_docs than k can return, every returned row reads
    saturated=true (the sketch tier is under-flagging — raise k);
    with k above the qualifying-line count it reads false."""
    docs = [
        (i, "\n".join(f"banner {b}" for b in range(6)) + f"\nrow {i}")
        for i in range(12)
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    tight = certified_boilerplate_lines(
        df, k=3, min_docs=4, capacity=4096
    ).toPandas()
    assert len(tight) == 3  # 6 qualifying banners, only 3 returned
    assert tight["saturated"].all()
    roomy = certified_boilerplate_lines(
        df, k=50, min_docs=4, capacity=4096
    ).toPandas()
    assert len(roomy) == 6
    assert not roomy["saturated"].any()


def test_certificate_only_shrinks(spark):
    """At a deliberately tiny capacity the floor rises; the certified
    set is a subset of the uncertified one, which is a subset of the
    exact tier — the sketch can MISS under pressure but never
    over-flags a line the exact tier wouldn't."""
    docs = [(i, "common line\nrow {}".format(i)) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    df = df.repartition(4)
    exact = {r.line for r in boilerplate_lines(df, min_docs=4).collect()}
    loose = {
        r.line
        for r in certified_boilerplate_lines(
            df, k=8, min_docs=4, capacity=8, certified_only=False
        ).collect()
    }
    tight = {
        r.line
        for r in certified_boilerplate_lines(
            df, k=8, min_docs=4, capacity=8
        ).collect()
    }
    assert tight <= loose <= exact
    assert "common line" in tight  # 40/40 docs clears any floor here


def test_degenerate_inputs(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "   \n  \n"), (3, "solo line")],
        "doc_id bigint, text string",
    )
    # null/all-blank docs yield no line rows -> absent from output
    out = remove_boilerplate(df, min_docs=2).collect()
    assert {r.doc_id for r in out} == {3}
    assert out[0].text == "solo line"
    with pytest.raises(ValueError, match="min_docs"):
        boilerplate_lines(df, min_docs=1)
