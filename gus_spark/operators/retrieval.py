"""BM25 ranked retrieval over the documents table — sparse lexical
search, the counterpart of the dense ANN tier (operators/similarity.py).

A training-data pipeline needs lexical retrieval in several places:
pulling documents similar to a high-quality seed set (retrieval-based
curation), nearest-neighbor text lookup for RETRO-style training, and
“which training docs could have leaked this eval question” forensics
that n-gram decontamination (operators/decontaminate.py) answers only
for verbatim overlap. BM25 (Robertson–Spärck Jones probabilistic
ranking, the Okapi BM25 form) is the standard scoring function:

    score(q, d) = sum over t in q of idf(t) * tf_norm(t, d)
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm     = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

Spark-first shape — the cost scales with the documents CONTAINING
query terms, never the corpus:

- tokenization + per-doc length are map-side column expressions over
  one scan; the query-term IN-list filter runs BEFORE the posting
  aggregation, so the only row-scaled exchange carries just matching
  token occurrences (plan-asserted in tests/test_retrieval.py);
- df(t) is a per-term count over the matched postings (<= |query|
  rows) and N/avgdl a 1-row corpus aggregate — both broadcast;
- per-posting scores are quantized to 1e-6 fixed point immediately
  after the one transcendental chain (ln + IEEE mul/div — identical
  bits across engines except the ln ulp, the dsir.py escape class),
  so per-doc sums are exact int64 and ranking is engine-free;
- the top-k is a TakeOrderedAndProject with doc-id tiebreak.

At 100 TB the posting-list build is the one-off indexing cost; a
warehouse serving repeated queries builds the live `PostingIndex`
(operators/posting_index.py), whose base tier is bucketed by term so
each query's IN-list filter prunes buckets and the per-term df count
never reshuffles. Ad-hoc single queries run straight off the scan, as
here.

Reference surface: none — the reference engine has no search path;
this is part of the SURVEY §2.3 training-data layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gus_spark.functions.tokenize import tokenize

#: Okapi defaults (Robertson et al., TREC-3).
K1 = 1.2
B = 0.75


def posting_lists(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(w, id, tf, dl): one row per distinct (term, doc) with the term
    frequency and the doc length — the inverted index as a DataFrame.
    Materialize bucketed by `w` for repeated-query serving.

    The token array is projected in its OWN select below a Generate
    boundary so the regex split evaluates once per document on the
    data path — CollapseProject cannot inline an expression through
    explode, so both consumers (size for dl, explode for the postings)
    read the bound array (the dedup.shingles re-evaluation class;
    asserted in tests/test_retrieval.py by counting split calls in
    the plan). Two further split occurrences remain in the scan-level
    Filter that InferFiltersFromGenerate derives (size > 0 /
    isnotnull) — a fixed per-row predicate cost, not the O(tokens)
    fan-out path."""
    arr = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        tokenize(F.col(text_col)).alias("_tk"),
    )
    toks = arr.select(
        "_id",
        F.size("_tk").cast("long").alias("dl"),
        F.explode("_tk").alias("w"),
    )
    return toks.groupBy("w", "_id", "dl").agg(
        F.count("*").alias("tf")
    ).withColumnRenamed("_id", id_col)


def corpus_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """1-row (n_docs, avgdl) — broadcast onto the scored postings.
    avgdl is one double division over exact longs: bit-identical
    across engines."""
    return df.filter(F.col(text_col).isNotNull()).agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.size(tokenize(F.col(text_col))).cast("long"))
            .cast("double")
            / F.count("*").cast("double")
        ).alias("avgdl"),
    )


def _query_terms(query: list[str]) -> list[str]:
    terms = sorted(set(query))
    if not terms:
        raise ValueError("query must contain at least one term")
    return terms


def _score_postings(
    post: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """The innermost Okapi scoring tail: matched postings
    (w, id, tf, dl) + per-term (w, df) + 1-row stats -> per-(doc,term)
    quantized scores -> doc sums -> top-k. ``dfreq`` is a parameter so
    the live base+delta index (operators/posting_index.py) can supply
    a df-count summed across its tiers while still sharing the exact
    scoring expressions — the bit-exact cross-path contract."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    scored = (
        post.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "w",
            F.expr(
                _fp_sql(_okapi_sql(k1, b, "tf", "dl", "df", "n_docs", "avgdl"))
            ).alias("s_fp"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.sum("s_fp").alias("score_fp"),
        )
    )
    return scored.orderBy(
        F.col("score_fp").desc(), F.col(id_col)
    ).limit(k)


def _score_and_topk(
    post: DataFrame,
    stats: DataFrame,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """The shared Okapi scoring tail: matched postings (w, id, tf, dl)
    + 1-row stats -> per-(doc,term) quantized scores -> doc sums ->
    top-k. The wide-term posting route of `bm25_topk`; it shares
    `_score_postings` with `PostingIndex.topk`, so the two serve
    bit-identical rankings."""
    dfreq = post.groupBy("w").agg(F.count("*").alias("df"))
    return _score_postings(post, dfreq, stats, k, id_col, k1, b)


#: Expression-form width bound for the ad-hoc scorers: each query term
#: adds one array-filter tf column plus one okapi expression to the
#: plan. A handful of terms (the ad-hoc regime) is far cheaper than
#: the posting explode+aggregate it replaces; past this bound the
#: codegen/analysis width cost grows while the posting form stays
#: O(matching postings), so wide term sets route to the posting form
#: (bm25_batch territory anyway).
ADHOC_EXPR_MAX_TERMS = 32


def _sql_str(t: str) -> str:
    """A Python string as a Spark SQL string literal (C-style escapes
    are on by default: escapedStringLiterals=false)."""
    return "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _fp_sql(expr: str) -> str:
    """`fp_quantize` as SQL text — the same floor(x*1e6 + 0.5) -> BIGINT
    tree it builds (repr+D literal convention)."""
    return f"CAST(FLOOR(({expr}) * 1000000.0D + 0.5D) AS BIGINT)"


def _okapi_sql(
    k1: float, b: float, tf: str, dl: str, df: str, nd: str, avgdl: str
) -> str:
    """THE Okapi idf * tf_norm expression, as SQL text over the given
    column references — ONE definition shared by every entry point
    (ad-hoc expression form, posting form, indexed, batch), so the
    bit-exact cross-path contracts hold by construction. Double
    literals use repr+D, which round-trips to the exact IEEE double;
    the DuckDB `sql_bm25_topk` stays the independent oracle."""
    idf = (
        f"ln(1.0D + ((CAST({nd} AS DOUBLE) - CAST({df} AS DOUBLE))"
        f" + 0.5D) / (CAST({df} AS DOUBLE) + 0.5D))"
    )
    tfd = f"CAST({tf} AS DOUBLE)"
    tf_norm = (
        f"(({tfd} * {float(k1 + 1.0)!r}D) / ({tfd} + {float(k1)!r}D"
        f" * ({float(1.0 - b)!r}D + {float(b)!r}D"
        f" * CAST({dl} AS DOUBLE) / {avgdl})))"
    )
    return f"({idf} * {tf_norm})"


def _token_arrays(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(_id, _tk): the per-doc token array, one tokenize per doc."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        tokenize(F.col(text_col)).alias("_tk"),
    )


def bm25_topk(
    df: DataFrame,
    query: list[str],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k documents for `query` by BM25: (id, n_terms_hit, score_fp)
    ordered by (score_fp desc, id). Duplicate query terms are collapsed
    (BM25 treats the query as a term set; repeat-weighted queries
    belong in a term-weight column, not here). Ad-hoc form; a
    repeated-query deployment builds a `PostingIndex` once and serves
    with `PostingIndex.topk` (bit-identical ranking, asserted in
    tests/test_posting_index.py).

    r14 shape (guide §2.3/§2.4 — aggregate before you shuffle, then
    remove the shuffle entirely): for ad-hoc term counts the scorer is
    EXPRESSION-FORM — per-doc term frequencies via array `filter` over
    the token array (no explode, no posting aggregation exchange), ONE
    1-row aggregate for n_docs/avgdl/per-term df (replacing the
    posting agg + dfreq agg + stats scan = two extra corpus passes and
    three exchanges), broadcast back, and the per-doc score as a pure
    column sum of the SAME quantized okapi expression the posting form
    applies per posting row (quantized per term, summed as int64 —
    order-free, so the scores are bit-identical; asserted against the
    posting form in tests). The narrow per-doc (id, dl, tf…) frame
    rides a lazy localCheckpoint so the stats aggregate and the score
    pass share ONE tokenize of the corpus — the §8 move: decide with
    small rows (a fixed-width lattice of longs, never the text).
    Plan: one corpus scan + TakeOrderedAndProject; the only exchange
    is the 1-row aggregate's. Wide term sets (> ADHOC_EXPR_MAX_TERMS)
    keep the posting form."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    terms = _query_terms(query)
    if len(terms) > ADHOC_EXPR_MAX_TERMS:
        post = posting_lists(df, id_col, text_col).filter(
            F.col("w").isin(terms)
        )
        stats = corpus_stats(df, id_col, text_col)
        return _score_and_topk(post, stats, k, id_col, k1, b)
    # built as parsed SQL text throughout (r14, guide §1.2 — the
    # per-Column okapi build alone was ~400 py4j round trips per
    # build; the same trees parse in a handful of calls). The posting
    # form scores with the same `_okapi_sql` text, so full-result
    # parity (pinned in tests) holds by construction.
    arr = _token_arrays(df, id_col, text_col)
    tf_exprs = [
        f"CAST(size(filter(_tk, x -> x = {_sql_str(term)})) AS BIGINT)"
        f" AS _tf{j}"
        for j, term in enumerate(terms)
    ]
    perdoc = arr.selectExpr(
        "_id", "CAST(size(_tk) AS BIGINT) AS _dl", *tf_exprs
    ).localCheckpoint(eager=False)
    stats = perdoc.agg(
        F.expr("count(*)").alias("_nd"),
        F.expr(
            "CAST(sum(_dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
        ).alias("_avgdl"),
        *[
            F.expr(f"sum(CAST((_tf{j} > 0) AS BIGINT))").alias(f"_df{j}")
            for j in range(len(terms))
        ],
    )
    per_term_fp = [
        f"CASE WHEN _tf{j} > 0 THEN "
        + _fp_sql(
            _okapi_sql(k1, b, f"_tf{j}", "_dl", f"_df{j}", "_nd", "_avgdl")
        )
        + " ELSE CAST(0 AS BIGINT) END"
        for j in range(len(terms))
    ]
    hits = " + ".join(
        f"CAST((_tf{j} > 0) AS BIGINT)" for j in range(len(terms))
    )
    score = " + ".join(per_term_fp)
    return (
        perdoc.crossJoin(F.broadcast(stats))
        .selectExpr(
            f"_id AS `{id_col}`",
            f"({hits}) AS n_terms_hit",
            f"({score}) AS score_fp",
        )
        .filter(F.col("n_terms_hit") > 0)
        .orderBy(F.col("score_fp").desc(), F.col(id_col))
        .limit(k)
    )


def sql_bm25_topk(
    query: list[str],
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB twin of `bm25_topk`, written expression-for-expression
    against the Spark plan (same tokenization, same cast/division
    order, same 1e-6 fixed-point quantization point) so the two
    engines hash-match. Used by tests/test_retrieval.py; also the
    oracle body if the probe ever takes a catalog slot."""
    terms = sorted(set(query))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
    WITH toks AS (
      SELECT {id_col} AS id,
             CAST(LENGTH(string_split_regex(TRIM({text_col}), '\\s+'))
                  AS BIGINT) AS dl,
             UNNEST(string_split_regex(TRIM({text_col}), '\\s+')) AS w
      FROM {table} WHERE {text_col} IS NOT NULL),
    post AS (
      SELECT w, id, dl, COUNT(*) AS tf FROM toks
      WHERE w IN ({in_list}) GROUP BY w, id, dl),
    dfreq AS (SELECT w, COUNT(*) AS df FROM post GROUP BY w),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(LENGTH(string_split_regex(TRIM({text_col}),
                                                     '\\s+'))
                           AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM {table} WHERE {text_col} IS NOT NULL),
    scored AS (
      SELECT id,
             CAST(FLOOR((
               LN(CAST(1.0 AS DOUBLE)
                  + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
                     + CAST(0.5 AS DOUBLE))
                    / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
               * ((CAST(tf AS DOUBLE) * CAST({k1 + 1.0!r} AS DOUBLE))
                  / (CAST(tf AS DOUBLE)
                     + CAST({k1!r} AS DOUBLE)
                       * (CAST({1.0 - b!r} AS DOUBLE)
                          + CAST({b!r} AS DOUBLE)
                            * CAST(dl AS DOUBLE) / avgdl)))
             ) * 1000000.0 + 0.5) AS BIGINT) AS s_fp
      FROM post JOIN dfreq USING (w) CROSS JOIN stats)
    SELECT id AS {id_col},
           COUNT(*) AS n_terms_hit,
           CAST(SUM(s_fp) AS BIGINT) AS score_fp
    FROM scored GROUP BY id
    ORDER BY score_fp DESC, {id_col}
    LIMIT {k}
    """


def bm25_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Score a whole BATCH of weighted queries in one pass — the
    RETRO-style retrieval shape (thousands of training chunks each
    needing neighbors), where per-query jobs would pay the corpus
    scan per query.

    `queries` is a (query_id, w, weight) DataFrame: one row per query
    term, weight scaling that term's contribution (weight 1.0
    reproduces `bm25_topk` for that query BIT-EXACTLY — multiplying
    by 1.0 is an IEEE identity, asserted in tests). Duplicate
    (query_id, w) rows collapse to the MAX weight (the set semantics
    `bm25_topk` applies to its term list); weight-0 rows are dropped
    up front, so a zero-weighted term is EXACTLY equivalent to
    removing it — it neither occupies result slots via zero-score
    matches nor inflates n_terms_hit. An empty queries table returns
    an empty result (relational semantics for a table input — unlike
    the Python-list form, which raises). Returns (query_id, id,
    n_terms_hit, score_fp, rank) with rank 1..k per query by
    (score_fp desc, id).

    Shape: df(t) and idf(t) are corpus properties computed ONCE over
    the union of all query terms; the queries side is
    query-batch-sized and broadcast, so the corpus-scaled work is
    CONSTANT in the batch size — physically three logical scans of the
    corpus (the postings subtree feeds both the df-count and scoring
    branches, Spark does not dedupe shared subtrees, plus the 1-row
    stats aggregate; plan-asserted), where the ad-hoc path pays the
    same three PER QUERY. Repeated batches should serve from
    `PostingIndex.batch_topk` instead and pay the postings build once
    ever. The per-query k is a window rank over
    the (query_id)-keyed exchange, not TakeOrderedAndProject (which
    is global-k only)."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    qterms = _query_term_table(queries)
    terms = qterms.select("w").distinct()
    post = posting_lists(df, id_col, text_col).join(
        F.broadcast(terms), "w", "left_semi"
    )
    dfreq = post.groupBy("w").agg(F.count("*").alias("df"))
    stats = corpus_stats(df, id_col, text_col)
    return _score_postings_weighted(
        post, dfreq, stats, qterms, k, id_col, k1, b
    )


def _query_term_table(queries: DataFrame) -> DataFrame:
    """(query_id, w, weight) normalized: zero weights dropped,
    duplicate (query_id, w) collapsed to MAX weight — the batch form's
    set semantics (see bm25_batch)."""
    return (
        queries.filter(F.col("weight") != 0)
        .groupBy("query_id", "w")
        .agg(F.max(F.col("weight").cast("double")).alias("weight"))
    )


def _score_postings_weighted(
    post: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """The weighted-batch Okapi scoring tail shared by the scan
    (`bm25_batch`) and indexed (`PostingIndex.batch_topk`) entry
    points — one definition, so the cross-path bit-parity contracts
    cannot drift. Weight multiplies INSIDE the quantization so
    weight=1.0 is the exact single-query value: fp(1.0 * x) == fp(x)
    bit-for-bit."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    scored = (
        post.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qterms), "w")
        .select(
            "query_id",
            id_col,
            F.expr(
                _fp_sql(
                    "weight * "
                    + _okapi_sql(k1, b, "tf", "dl", "df", "n_docs", "avgdl")
                )
            ).alias("s_fp"),
        )
        .groupBy("query_id", id_col)
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.sum("s_fp").alias("score_fp"),
        )
    )
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("score_fp").desc(), F.col(id_col)
        )
    )
    return scored.withColumn("rank", rank).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# positional postings + phrase retrieval (round 8)
#
# (w, id, tf, dl) answers "which docs contain these TERMS"; forensics
# ("which training docs leaked this eval question", the module's own
# motivation above) often needs "which docs contain this exact PHRASE"
# — an 8-token verbatim quote is invisible to the 13-gram
# decontaminator (operators/decontaminate.py) and over-matched by
# bag-of-words BM25. Positional postings close that gap.


def posting_positions(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, w, positions, dl, tf): one row per distinct (term, doc)
    with the SORTED array of 0-based token positions — the positional
    inverted index as a DataFrame. tf is carried as size(positions)
    (one expression over the same aggregation), so this strictly
    generalizes `posting_lists`: the BM25 scoring tail runs unchanged
    over it, and a parquet materialization column-prunes the positions
    array away on pure-BM25 reads. Materialize it bucketed by `w`
    with PostingIndex(positional=True) for repeated-phrase serving.

    Token-array projection is isolated below the Generate boundary for
    the same one-split-per-doc reason as `posting_lists`."""
    arr = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        tokenize(F.col(text_col)).alias("_tk"),
    )
    toks = arr.select(
        "_id",
        F.size("_tk").cast("long").alias("dl"),
        F.posexplode("_tk").alias("pos", "w"),
    )
    return (
        toks.groupBy("w", "_id", "dl")
        .agg(F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias(
            "positions"
        ))
        .withColumnRenamed("_id", id_col)
        .select(
            id_col, "w", "positions", "dl",
            F.size("positions").cast("long").alias("tf"),
        )
    )


#: Offset-join-chain length cap: a phrase of m tokens pays m-1 join
#: STAGES on the chain form below — fine for forensic phrases (a
#: leaked eval question fragment is a handful of tokens), quadratic
#: stage latency for long quotes. Above this length the single-
#: exchange coverage-count form (_phrase_occurrences_folded — one
#: (id, start)-keyed aggregation regardless of m, the `phrase_batch`
#: shape) wins and routing is automatic. 10 sits where the chain's
#: measured stage overhead crosses the fold's exchange cost locally
#: and safely below the 13-token decontamination boundary — the
#: natural long-phrase probe (tests pin equality at m=13).
LONG_PHRASE_OFFSET_JOINS = 10


def _phrase_occurrences_folded(
    post: DataFrame, phrase: list[str], id_col: str
) -> DataFrame:
    """(id, n_occurrences) via the single-exchange coverage count —
    the `phrase_batch` shape specialized to one phrase: every matched
    posting explodes its positions to candidate (id, start = pos - j)
    votes, and a start is a real occurrence iff ALL len(phrase)
    offsets voted (count == m on the (id, start)-keyed aggregation —
    the ONE corpus-scaled exchange, independent of phrase length).
    Repeated phrase terms work because (id, start, j) votes are
    unique by construction (positions are distinct per posting and
    p = start + j)."""
    spark = post.sparkSession
    q = spark.createDataFrame(
        list(enumerate(phrase)), "j int, w string"
    )
    hits = (
        post.join(F.broadcast(q), "w")
        .select(id_col, "j", F.explode("positions").alias("p"))
        .select(id_col, (F.col("p") - F.col("j")).alias("start"))
        .filter(F.col("start") >= 0)
    )
    return (
        hits.groupBy(id_col, "start")
        .agg(F.count("*").alias("_cov"))
        .filter(F.col("_cov") == len(phrase))
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )


def _phrase_occurrences(
    post: DataFrame, phrase: list[str], id_col: str
) -> DataFrame:
    """(id, n_occurrences) over a positional posting table already
    holding (w, id, positions): a doc matches where the intersection
    of the phrase terms' position arrays — each shifted back by its
    phrase offset — is non-empty; the intersection size IS the number
    of distinct phrase start positions.

    Shape (r13, guide §2.1/§3.1): ONE id-keyed aggregation collects
    every offset's shifted position array (`any_value` of the
    offset's conditional — `post` carries exactly one row per
    (term, doc), the invariant the former join chain relied on too:
    a duplicate posting row would have cross-multiplied its joins),
    then the running intersection is pure column arithmetic above it.
    The former per-offset join chain referenced `post` once per
    offset, and because each offset's w-filter pushes BELOW the
    posting aggregation the m subtrees were all DISTINCT — the ad-hoc
    path re-tokenized and re-exploded the whole corpus once per
    phrase term (3 scans for a 3-token phrase; no exchange reuse
    possible) and then paid m-1 join stages on top. This form is one
    pass over the postings and one id-keyed exchange regardless of m.
    Repeated terms in the phrase are handled per-offset (the phrase
    "the cat the" collects the 'the' postings twice, shifted by 0 and
    2). Cost follows docs CONTAINING phrase terms, never the corpus.

    Past LONG_PHRASE_OFFSET_JOINS tokens it routes to the
    coverage-count form (`_phrase_occurrences_folded`) automatically
    (same rows out, asserted at m=13 in tests/test_retrieval.py) —
    that form's exchange carries position VOTES (rows) instead of m
    per-doc arrays (columns), the better trade once m is large;
    every caller — ad-hoc and the live PostingIndex — inherits the
    routing through this one function."""
    if not phrase:
        raise ValueError("phrase must contain at least one token")
    if len(phrase) > LONG_PHRASE_OFFSET_JOINS:
        return _phrase_occurrences_folded(post, phrase, id_col)
    aggs = [
        F.any_value(
            F.when(
                F.col("w") == F.lit(term),
                # j interpolates as an int literal; the expr text
                # sidesteps both the two-parameter-lambda footgun and
                # the python-lambda build cost of F.transform
                F.expr(f"transform(positions, p -> p - {j})")
                if j
                else F.col("positions"),
            ),
            True,
        ).alias(f"_s{j}")
        for j, term in enumerate(phrase)
    ]
    per_doc = post.groupBy(id_col).agg(*aggs)
    starts = F.col("_s0")
    for j in range(1, len(phrase)):
        starts = F.array_intersect(starts, F.col(f"_s{j}"))
    # a doc missing any offset term yields a null _sj -> null starts
    # -> size null/-1 -> filtered, matching the chain's inner joins
    return per_doc.select(
        F.col(id_col),
        F.size(starts).cast("long").alias("n_occurrences"),
    ).filter(F.col("n_occurrences") > 0)


def phrase_match(
    df: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_occurrences) for every document containing the exact
    token sequence ``phrase`` — ad-hoc form.

    r14 shape (guide §2.4 — remove the shuffle outright): for short
    phrases the whole match is EXPRESSION-FORM over the token array —
    each offset's term positions via `filter` over the index sequence
    (ascending by construction, exactly the sorted positions the
    posting aggregation collected), shifted back by the offset and
    intersected, all per-doc column arithmetic. No posexplode, no
    (w, id) aggregation, no exchange of any kind: one corpus scan,
    and the occurrence count is exact integer arithmetic, so rows are
    identical to the posting forms (asserted in tests). Long phrases
    (> LONG_PHRASE_OFFSET_JOINS) keep the posting route, whose
    coverage-count exchange carries rows instead of m per-doc
    position-array columns."""
    if not phrase:
        raise ValueError("phrase must contain at least one token")
    if len(phrase) > LONG_PHRASE_OFFSET_JOINS:
        terms = sorted(set(phrase))
        post = posting_positions(df, id_col, text_col).filter(
            F.col("w").isin(terms)
        )
        return _phrase_occurrences(post, phrase, id_col)
    arr = _token_arrays(df, id_col, text_col)

    def _positions(term: str, shift: int) -> str:
        # ascending 0-based positions of `term`, already shifted back
        # by the phrase offset, via the (element, index) transform —
        # the lambda iterates the token array DIRECTLY. (A first draft
        # indexed with F.get(_tk, i) inside the lambda; CollapseProject
        # inlines the tokenize split into the consumer, so every get
        # re-ran the regex split per ELEMENT — measured 8.3 s vs
        # 0.31 s for this form at sf0.1. The posting_lists
        # Generate-boundary comment documents the same hazard class.)
        # Sentinel -1-shift marks non-matches: legitimate shifted
        # positions are i-shift >= -shift > -1-shift, so the remove
        # can never delete a real position. Parsed SQL text (guide
        # §1.2): one parse per offset instead of ~20 py4j-built ops.
        sentinel = -1 - shift
        pos = f"(i - {shift})" if shift else "i"
        return (
            f"array_remove(transform(_tk, (x, i) -> "
            f"CASE WHEN x = {_sql_str(term)} THEN {pos}"
            f" ELSE {sentinel} END), {sentinel})"
        )

    starts = None
    for j, term in enumerate(phrase):
        pos = _positions(term, j)
        starts = pos if not j else f"array_intersect({starts}, {pos})"
    return (
        arr.selectExpr(
            f"_id AS `{id_col}`",
            f"CAST(size({starts}) AS BIGINT) AS n_occurrences",
        )
        .filter(F.col("n_occurrences") > 0)
    )


def phrase_topk(
    df: DataFrame,
    phrase: list[str],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by exact-phrase occurrence count,
    (n_occurrences desc, id) — deterministic, TakeOrderedAndProject."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    return (
        phrase_match(df, phrase, id_col, text_col)
        .orderBy(F.col("n_occurrences").desc(), F.col(id_col))
        .limit(k)
    )


def sql_phrase_topk(
    phrase: list[str],
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of `phrase_topk`: token positions via
    generate_subscripts (0-based to match posexplode), one self-join
    per phrase offset, COUNT(*) = distinct start positions. Exact
    integer arithmetic end to end — no quantization escape class at
    all on this surface."""
    if not phrase:
        raise ValueError("phrase must contain at least one token")

    def q(t: str) -> str:
        return "'" + t.replace("'", "''") + "'"

    joins = "".join(
        f"\n      JOIN toks t{j} ON t{j}.id = t0.id"
        f" AND t{j}.pos = t0.pos + {j} AND t{j}.w = {q(t)}"
        for j, t in enumerate(phrase[1:], start=1)
    )
    return f"""
    WITH toks AS (
      SELECT {id_col} AS id,
             UNNEST(string_split_regex(TRIM({text_col}), '\\s+')) AS w,
             GENERATE_SUBSCRIPTS(
               string_split_regex(TRIM({text_col}), '\\s+'), 1
             ) - 1 AS pos
      FROM {table} WHERE {text_col} IS NOT NULL)
    SELECT t0.id AS {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM toks t0{joins}
    WHERE t0.w = {q(phrase[0])}
    GROUP BY t0.id
    ORDER BY n_occurrences DESC, {id_col}
    LIMIT {k}
    """


def phrase_batch(
    df: DataFrame,
    phrases: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score a whole BATCH of phrases in one pass — the forensics
    sweep over an entire eval suite ("which training docs quote ANY
    of these questions verbatim"), where per-phrase jobs would pay
    the posting build per phrase.

    ``phrases`` is a (query_id, phrase array<string>) DataFrame.
    Returns (query_id, id, n_occurrences, rank) with rank 1..k per
    query by (n_occurrences desc, id) — for each phrase exactly the
    ids+counts `phrase_topk` returns (asserted in tests). Empty
    phrase arrays raise.

    Shape — fully batched, no per-phrase loop: the phrase table
    explodes to (query_id, offset j, term) and broadcasts; positional
    postings are built ONCE pre-filtered to the batch's distinct
    terms; each matched posting explodes its positions to candidate
    (query_id, id, start = pos - j) rows; a start is a real
    occurrence iff ALL of the phrase's offsets voted for it —
    count == phrase length on the (query_id, id, start)-keyed
    aggregation, which is the one corpus-scaled exchange (keys are
    uniform: docs × phrase starts). Repeated phrase terms work
    because (query_id, id, start, j) rows are unique by construction
    (positions are distinct per posting, and p = start + j)."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    q = phrases.select(
        "query_id", F.posexplode("phrase").alias("j", "w")
    )
    plen = phrases.select("query_id", F.size("phrase").alias("_m"))
    bad = plen.filter(F.col("_m") <= 0).limit(1).count()
    if bad:
        raise ValueError("every phrase must contain at least one token")
    terms = q.select("w").distinct()
    post = posting_positions(df, id_col, text_col).join(
        F.broadcast(terms), "w", "left_semi"
    )
    return _phrase_batch_tail(post, q, plen, k, id_col)


def _phrase_batch_tail(
    post: DataFrame,
    q: DataFrame,
    plen: DataFrame,
    k: int,
    id_col: str,
) -> DataFrame:
    """The batched offset-coverage tail shared by the scan
    (`phrase_batch`) and live-index (`PostingIndex.phrase_batch`)
    entry points: (query_id, j, w) × positional postings → candidate
    starts → full-coverage count → per-query window rank."""
    from pyspark.sql import Window

    hits = (
        post.join(F.broadcast(q), "w")
        .select(
            "query_id", id_col, "j",
            F.explode("positions").alias("p"),
        )
        .select(
            "query_id", id_col, "j",
            (F.col("p") - F.col("j")).alias("start"),
        )
        .filter(F.col("start") >= 0)
    )
    occ = (
        hits.groupBy("query_id", id_col, "start")
        .agg(F.count("*").alias("_cov"))
        .join(F.broadcast(plen), "query_id")
        .filter(F.col("_cov") == F.col("_m"))
        .groupBy("query_id", id_col)
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("n_occurrences").desc(), F.col(id_col)
        )
    )
    return occ.withColumn("rank", rank).filter(F.col("rank") <= k)
