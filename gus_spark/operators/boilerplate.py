"""Corpus-wide line-level boilerplate removal — the C4 rule.

The standard pipeline stage between dedup and the quality gates:
navigation menus, cookie banners, "subscribe to our newsletter",
license headers — lines that repeat across MANY documents but are not
document-level duplicates, so no dedup tier touches them. C4 (Raffel
et al., JMLR 2020, §2.2) cut every line occurring more than a handful
of times in the dataset; CCNet/RefinedWeb apply the same rule at
their line/paragraph granularity. heavy_hitters' own motivation
(operators/heavyhitters.py:38-40 — "boilerplate n-gram diagnostics")
promised the diagnosis; this module consumes it.

Two flagging tiers, one removal operator:

1. **Exact tier** (`boilerplate_lines`): line-keyed doc-frequency
   aggregation — one exchange on the line value (uniform: lines hash
   like content digests), map-side partial agg, a single DISTINCT
   aggregate (no Expand plan: only one distinct agg in the mix).
   DuckDB twin in tests/reference_ops.py for bit-parity.
2. **Certified sketch tier** (`certified_boilerplate_lines`):
   `heavy_hitters` over per-doc DISTINCT lines — counts become exact
   document frequencies, the Misra-Gries floor certifies them, and
   the corpus-wide line vocabulary never crosses the network (the
   candidate exchange is bounded by partitions x capacity). The
   100-TB path: at web scale the distinct-line vocabulary is
   corpus-sized, and tier 1's exchange IS the job.

Removal (`remove_boilerplate`) joins the flagged set back onto the
line table and reconstructs each document's text in original line
order — per-doc sort_array over collected (line_no, line) structs,
one doc-keyed exchange. The canonical-copy policy matches
exact_substring_dedup (operators/substring.py: lowest-coordinate
occurrence survives): with ``keep_first=True`` the lowest doc_id
containing a flagged line keeps it, every other document loses it;
``keep_first=False`` is the strict C4 cut (remove everywhere).

Line normalization contract (identical in every engine pair): lines
split on chr(10), each TRIMmed; empty lines carry no signal and are
dropped — reconstructed text is therefore the trimmed non-empty lines
joined by chr(10). Documents whose text is NULL or all-blank have no
line rows and do not appear in the output (the filter-stage
convention; left-join against the source to re-attach them).

Reference surface: none — the reference engine has no corpus layer;
this extends the SURVEY §2.3 training-data family (VERDICT r8
"What's missing #2").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Flag a line as boilerplate when it appears in at least this many
#: distinct documents. C4 used "more than three times in the
#: dataset"; doc-frequency >= 4 is that rule restated per-document
#: (repeats inside ONE doc are the repetition_profile's business, not
#: boilerplate).
MIN_DOCS = 4


def _trimmed_lines(text: Column) -> Column:
    """array<string> of TRIMmed lines, empties preserved (positions
    must refer to the original split array so kept lines reassemble
    in source order)."""
    return F.transform(F.split(text, "\n"), lambda s: F.trim(s))


def doc_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, line_no, line): every trimmed NON-EMPTY line with its
    0-based position in the document's original line sequence. Pure
    map — posexplode over one split, no shuffle."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(_trimmed_lines(F.col(text_col))).alias(
                "line_no", "line"
            ),
        )
        .filter(F.col("line") != "")
    )


def distinct_lines_col(text: Column) -> Column:
    """Per-document DISTINCT trimmed non-empty lines — the item
    stream whose heavy hitters are doc-frequency heavy lines. Shared
    by the certified tier and its tests so both count one definition."""
    return F.array_distinct(
        F.filter(_trimmed_lines(text), lambda s: s != F.lit(""))
    )


def boilerplate_lines(
    df: DataFrame,
    min_docs: int = MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact tier: (line, n_docs, keep_doc_id) for every line whose
    document frequency reaches ``min_docs``. One line-keyed exchange;
    the single countDistinct plans as a two-phase aggregate (keyed
    (line, id) partial then (line)), never an Expand."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    return (
        doc_lines(df, id_col, text_col)
        .groupBy("line")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def certified_boilerplate_lines(
    df: DataFrame,
    k: int = 1000,
    min_docs: int = MIN_DOCS,
    capacity: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    certified_only: bool = True,
) -> DataFrame:
    """Sketch tier: the top-k doc-frequency lines via `heavy_hitters`
    over per-doc distinct lines, filtered to n_docs >= min_docs.
    Output (line, n_docs, saturated, keep_doc_id) — drop-in for the
    exact tier (`remove_boilerplate` reads only line/keep_doc_id).

    ``certified_only`` (default) additionally requires
    n_docs > floor_cnt, the Misra-Gries certificate: every returned
    line's doc frequency is then PROVABLY correct (no unseen line can
    beat it), so the cut never removes a line on a miscount. Lines
    between min_docs and the floor are reported only with
    certified_only=False — at a sane capacity the floor sits far
    below any real boilerplate threshold, so the flag set matches the
    exact tier's (asserted in tests at lossless capacity).

    ``saturated`` is the top-k truncation signal (the floor_cnt
    self-describing convention, ADVICE r9): true on every row when
    the top-k came back FULL and its minimum doc frequency still
    cleared min_docs — i.e. lines beyond rank k may also qualify and
    the sketch tier is silently under-flagging; raise k until it
    reads false. Computed from the raw top-k BEFORE the threshold
    and certificate filters, so those can't mask the truncation.

    keep_doc_id is derived in a second bounded aggregation over ONLY
    the flagged lines' postings (a semi-join the optimizer broadcasts
    when small — the heavy_hitters candidate contract)."""
    from gus_spark.operators.heavyhitters import heavy_hitters

    hh = heavy_hitters(
        df, k=k, capacity=capacity, text_col=text_col,
        grams_col=distinct_lines_col(F.col(text_col)),
    )
    # two consumers below (flag set + saturation probe): cut lineage
    # so the two corpus passes behind hh run once, lazily
    hh = hh.localCheckpoint(eager=False)
    sat = hh.agg(
        ((F.count("*") == k) & (F.min("cnt") >= min_docs)).alias(
            "saturated"
        )
    )
    flagged = hh.filter(F.col("cnt") >= min_docs)
    if certified_only:
        flagged = flagged.filter(F.col("cnt") > F.col("floor_cnt"))
    flagged = flagged.select(
        F.col("w").alias("line"), F.col("cnt").alias("n_docs")
    ).crossJoin(F.broadcast(sat))
    keepers = (
        doc_lines(df, id_col, text_col)
        .join(flagged.select("line"), "line", "left_semi")
        .groupBy("line")
        .agg(F.min(id_col).alias("keep_doc_id"))
    )
    return flagged.join(keepers, "line")


def remove_boilerplate(
    df: DataFrame,
    min_docs: int = MIN_DOCS,
    keep_first: bool = True,
    flagged: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tier: str = "exact",
) -> DataFrame:
    """Cut flagged boilerplate lines from every document. Output
    (id, text, n_lines_kept, n_lines_removed): text is the surviving
    trimmed lines rejoined by chr(10) in original order (see the
    module normalization contract).

    ``tier`` is the SCALE contract (chosen when ``flagged`` is None):
    'exact' (default) runs `boilerplate_lines`, whose one exchange
    carries every distinct (line, doc) pair — at web scale the
    distinct-line vocabulary is corpus-sized, so THAT EXCHANGE IS THE
    JOB; correct and cheapest at any scale where a line-keyed shuffle
    of the corpus is acceptable (all local/test runs, single-tenant
    corpora). 'certified' runs `certified_boilerplate_lines`, whose
    candidate exchange is bounded by partitions x capacity and whose
    flags carry the Misra-Gries certificate — the 100-TB path; check
    its ``saturated`` column before trusting the cut exhaustive.

    ``flagged`` accepts either tier's output — any DataFrame with a
    ``line`` column (``keep_doc_id`` derived here if absent and
    ``keep_first`` needs it); passing it skips ``tier`` entirely.
    With ``keep_first`` the lowest-doc_id holder keeps its copy (the
    exact_substring_dedup canonical policy); False cuts everywhere
    (strict C4).

    Shape: line table left-joined to the flagged set (small by
    construction — heavy lines only; AQE broadcasts it), then ONE
    doc-keyed exchange rebuilding text via sort_array over collected
    (line_no, line) structs. Nothing corpus-scaled hits the driver."""
    if tier not in ("exact", "certified"):
        raise ValueError(
            f"tier must be 'exact' or 'certified', got {tier!r}"
        )
    if flagged is None:
        if tier == "certified":
            flagged = certified_boilerplate_lines(
                df, min_docs=min_docs, id_col=id_col, text_col=text_col
            )
        else:
            flagged = boilerplate_lines(df, min_docs, id_col, text_col)
    lines = doc_lines(df, id_col, text_col)
    if keep_first and "keep_doc_id" not in flagged.columns:
        flagged = flagged.join(
            lines.join(
                flagged.select("line"), "line", "left_semi"
            )
            .groupBy("line")
            .agg(F.min(id_col).alias("keep_doc_id")),
            "line",
        )
    cols = ["line", "keep_doc_id"] if keep_first else ["line"]
    marked = lines.join(
        flagged.select(*cols).withColumn("_flag", F.lit(True)),
        "line",
        "left",
    )
    keep = F.col("_flag").isNull()
    if keep_first:
        keep = keep | (F.col(id_col) == F.col("keep_doc_id"))
    marked = marked.withColumn("_keep", keep)
    agg = marked.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(
                F.when(F.col("_keep"), F.struct("line_no", "line"))
            )
        ).alias("_ls"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_lines_removed"),
    )
    return agg.select(
        F.col(id_col),
        F.array_join(
            F.transform("_ls", lambda s: s["line"]), "\n"
        ).alias(text_col),
        F.size("_ls").cast("long").alias("n_lines_kept"),
        "n_lines_removed",
    )


# ------------------------------------------------------------------ SQL twins


def sql_remove_boilerplate(
    min_docs: int = MIN_DOCS,
    keep_first: bool = True,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cte: str | None = None,
) -> str:
    """DuckDB twin of `remove_boilerplate` over the exact tier:
    line_no from generate_subscripts (0-based, posexplode's
    numbering), string_agg ORDER BY line_no = the sort_array rebuild.
    ``extra_cte`` ("name AS (...)") is prepended to the WITH chain so
    a probe can seed a derived ``table`` inline."""
    keep_pred = "f.line IS NULL"
    if keep_first:
        keep_pred += " OR n.id = f.keep_doc_id"
    lead = f"{extra_cte},\n    " if extra_cte else ""
    return f"""
    WITH {lead}nz AS (
      SELECT * FROM (
        SELECT {id_col} AS id,
               TRIM(UNNEST(string_split({text_col}, chr(10)))) AS line,
               GENERATE_SUBSCRIPTS(
                 string_split({text_col}, chr(10)), 1) - 1 AS line_no
        FROM {table} WHERE {text_col} IS NOT NULL)
      WHERE line <> ''),
    flag AS (
      SELECT line, MIN(id) AS keep_doc_id
      FROM (SELECT DISTINCT line, id FROM nz)
      GROUP BY line HAVING COUNT(*) >= {min_docs}),
    marked AS (
      SELECT n.id, n.line_no, n.line, ({keep_pred}) AS keep
      FROM nz n LEFT JOIN flag f ON n.line = f.line)
    SELECT id AS {id_col},
           COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY line_no), '') AS {text_col},
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT)
             AS n_lines_kept,
           CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT)
             AS n_lines_removed
    FROM marked GROUP BY id
    """
