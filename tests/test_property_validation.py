"""Property-based tests (hypothesis) for the pure-Python validation
layer — extending the reference's example-based matrix (SURVEY §5: the
reference has no property/randomized testing) with generated inputs.

The validation properties need no SparkSession and run in
milliseconds; the cross-engine TOKENIZATION properties at the bottom
drive both Spark and DuckDB (they take the session `spark` fixture
and cost ~40 s of per-example round-trips — the price of pinning the
contract every text oracle stands on).
"""

import json

import duckdb

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings
from hypothesis import strategies as st

from gus_spark.errors import RecordValidationError
from gus_spark.model.record import add_null_values, parse_record, parse_uri_id
from gus_spark.model.types import ModelDefinition

MODEL = ModelDefinition.from_json(
    {
        "model_name": "movie",
        "attributes": {
            "id": "Integer",
            "name": "String",
            "year": "Integer",
            "rating": "Float",
            "actors": ["String"],
            "recommended": "Boolean",
        },
        "primary_key": "id",
        "required": ["id", "name"],
    }
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)

valid_records = st.fixed_dictionaries(
    {"id": I64, "name": st.text(max_size=50)},
    optional={
        "year": st.none() | I64,
        "rating": st.none() | st.floats(allow_nan=False, allow_infinity=False),
        "actors": st.none() | st.lists(st.text(max_size=20), max_size=5),
        "recommended": st.none() | st.booleans(),
    },
)


@given(valid_records)
@settings(max_examples=200)
def test_valid_records_always_accepted(record):
    parsed = parse_record(record, MODEL)
    # full schema, canonical order, supplied values preserved
    assert list(parsed) == MODEL.field_order
    for key, value in record.items():
        assert parsed[key] == value
    # add_null_values is idempotent
    assert add_null_values(parsed, MODEL) == parsed
    # JSON-string form parses identically (the REST body path)
    assert parse_record(json.dumps(parsed), MODEL) == parsed


wrong_typed = st.one_of(
    st.fixed_dictionaries(
        {"id": st.text(), "name": st.text()}  # string-for-Integer
    ),
    st.fixed_dictionaries(
        {"id": I64, "name": st.integers()}  # int-for-String
    ),
    st.fixed_dictionaries(
        {"id": st.booleans(), "name": st.text()}  # bool-for-Integer
    ),
    st.fixed_dictionaries(
        {"id": I64, "name": st.text(),
         "actors": st.lists(st.integers(), min_size=1)}  # int[] for String[]
    ),
    st.fixed_dictionaries(
        {"id": I64, "name": st.text(),
         "actors": st.lists(st.none(), min_size=1)}  # null element
    ),
    st.fixed_dictionaries(
        {"id": I64, "name": st.text(), "zzz": st.integers()}  # unknown attr
    ),
)


@given(wrong_typed)
@settings(max_examples=200)
def test_invalid_records_always_rejected(record):
    with pytest.raises(RecordValidationError):
        parse_record(record, MODEL)


@given(I64)
@settings(max_examples=200)
def test_uri_id_roundtrip_integer(value):
    assert parse_uri_id(str(value), MODEL) == value


@given(st.floats(allow_nan=False) | st.text(st.characters(codec="ascii")))
@settings(max_examples=200)
def test_uri_id_non_integers_rejected(value):
    text = str(value)
    try:
        as_int = json.loads(text)
        is_int = isinstance(as_int, int) and not isinstance(as_int, bool)
    except (ValueError, TypeError):
        is_int = False
    if is_int:
        assert parse_uri_id(text, MODEL) == as_int
    else:
        with pytest.raises(RecordValidationError):
            parse_uri_id(text, MODEL)


@given(
    st.integers(min_value=1800, max_value=2200),
    st.integers(min_value=1900, max_value=2100),
    st.integers(min_value=1900, max_value=2100),
)
@settings(max_examples=200)
def test_constraint_min_max_boundary(year, lo, hi):
    if lo > hi:
        lo, hi = hi, lo
    model = ModelDefinition.from_json(
        {
            "model_name": "movie",
            "attributes": {"id": "Integer", "year": "Integer"},
            "primary_key": "id",
            "required": ["id"],
            "constraints": {"year": {"min": lo, "max": hi}},
        }
    )
    record = {"id": 1, "year": year}
    if lo <= year <= hi:
        assert parse_record(record, model)["year"] == year
    else:
        with pytest.raises(RecordValidationError):
            parse_record(record, model)


# ---------------------------------------------------------------------------
# cross-engine tokenization: the contract under EVERY text oracle


#: the code points where the engines' tokenization diverges, probed
#: empirically and pinned below. (1) U+000B VERTICAL TAB: Java \\s
#: (Spark split) matches it, RE2 \\s (DuckDB string_split_regex) does
#: not. (2) Unicode SPACE-category (Zs) characters other than ASCII
#: space (NBSP U+00A0, U+1680, U+2000-200A, U+202F, U+205F, U+3000):
#: DuckDB's TRIM strips them at string boundaries, Spark's trim strips
#: ASCII space ONLY — interior occurrences agree (both engines treat
#: them as non-separators). Every text oracle in the repo is valid
#: only for corpora without these code points; the testdata generator
#: emits none (the oracles passing asserts it), and the pins below
#: keep the divergences loud if either engine changes.
_tokenize_alphabet = st.one_of(
    st.sampled_from(" \t\n\r\f"),  # the agreed whitespace set
    st.characters(
        codec="utf-8",
        exclude_characters="\x0b",
        # Cs: no lone surrogates; Zs: the TRIM-divergent space class
        # (ASCII space re-admitted via sampled_from above)
        exclude_categories=("Cs", "Zs"),
    ),
)


_DUCK = duckdb.connect()


@given(st.text(_tokenize_alphabet, max_size=40))
@settings(max_examples=150, deadline=None)
def test_tokenization_agrees_across_engines(spark, text):
    """split(trim(text), '\\s+') on Spark vs
    string_split_regex(TRIM(text), '\\s+') on DuckDB must produce the
    identical token list for every string WITHOUT vertical tab — this
    single property underpins every text/dedup/DSIR/BM25 oracle in
    the catalog. (Probed empirically: tab/newline/CR/FF + space agree
    as separators, all Unicode spaces >= U+0085 agree as
    NON-separators in both engines' ASCII-\\s mode; U+000B is the one
    divergent code point, pinned below.)"""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(text,)], "text string").select(
        F.split(F.trim("text"), r"\s+").alias("t")
    )
    s = list(sdf.collect()[0]["t"])
    d = list(
        _DUCK.execute(
            "SELECT string_split_regex(TRIM(?), '\\s+')", [text]
        ).fetchone()[0]
    )
    assert s == d, (text.encode("unicode_escape"), s, d)


def test_tokenization_vertical_tab_divergence_is_real(spark):
    """The documented exception: Java \\s matches U+000B, RE2's does
    not. If either engine ever changes this, the exclusion above (and
    the oracle-validity caveat) must be revisited — so pin it."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(
        [("a\x0bb",)], "text string"
    ).select(F.split(F.trim("text"), r"\s+").alias("t"))
    s = list(sdf.collect()[0]["t"])
    d = list(
        _DUCK.execute(
            "SELECT string_split_regex(TRIM(?), '\\s+')", ["a\x0bb"]
        ).fetchone()[0]
    )
    assert s == ["a", "b"] and d == ["a\x0bb"]

    # and the TRIM divergence: DuckDB strips boundary NBSP, Spark not
    sdf2 = spark.createDataFrame(
        [("\xa0a\xa0",)], "text string"
    ).select(F.trim("text").alias("t"))
    assert sdf2.collect()[0]["t"] == "\xa0a\xa0"
    assert (
        _DUCK.execute("SELECT TRIM(?)", ["\xa0a\xa0"]).fetchone()[0] == "a"
    )


@given(st.text(_tokenize_alphabet, max_size=40))
@settings(max_examples=150, deadline=None)
def test_tokenize_variants_agree_across_engines(spark, text):
    """Round-8 unification: BOTH declared variants of the single
    tokenize entry point (functions/tokenize.py) hold the cross-engine
    contract — 'raw' against string_split_regex(TRIM(.)), 'words'
    against the same with empties list_filter'ed out — and 'words' is
    exactly 'raw' minus empty tokens (the only difference any gate is
    allowed to depend on)."""
    from pyspark.sql import functions as F

    from gus_spark.functions.tokenize import tokenize

    sdf = spark.createDataFrame([(text,)], "text string").select(
        tokenize(F.col("text"), "raw").alias("raw"),
        tokenize(F.col("text"), "words").alias("words"),
    )
    row = sdf.collect()[0]
    raw, words = list(row["raw"]), list(row["words"])
    assert words == [w for w in raw if w != ""]
    d_raw = list(
        _DUCK.execute(
            "SELECT string_split_regex(TRIM(?), '\\s+')", [text]
        ).fetchone()[0]
    )
    d_words = list(
        _DUCK.execute(
            "SELECT list_filter(string_split_regex(TRIM(?), '\\s+'),"
            " w -> w <> '')", [text]
        ).fetchone()[0]
    )
    assert raw == d_raw, (text.encode("unicode_escape"), raw, d_raw)
    assert words == d_words


def test_tokenize_unknown_variant_rejected(spark):
    from pyspark.sql import functions as F

    from gus_spark.functions.tokenize import tokenize

    with pytest.raises(ValueError, match="variant"):
        tokenize(F.lit("a b"), "bytes")
