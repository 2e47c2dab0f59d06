"""Data-mixture planning and deterministic materialization.

A pre-training corpus is not one pile: it is a weighted MIXTURE of
domains (sources, languages) whose proportions are a tuned training
hyperparameter — GPT-3's per-dataset weights with >1 epoch for the
small high-quality sets (Brown et al. 2020, table 2.2), The Pile's
per-subset epochs (Gao et al. 2020, table 1), LLaMA's sampling
proportions (Touvron et al. 2023, table 1), and temperature-based
smoothing for multilingual balance (XLM-R, Conneau et al. 2020,
eq. 1: q_d ∝ p_d^alpha). This module is that step, Spark-first:

- `mixture_plan` computes, from the corpus itself, the per-domain
  sampling RATE that hits a token budget at the requested weights:
  one groupBy(domain) aggregation (map-side partials, a tiny
  shuffle of one row per domain). rate = budget * w_d / tokens_d;
  rate > 1 means the domain repeats (epochs), rate < 1 means it is
  downsampled. The plan IS a DataFrame — a few rows, broadcastable.
- `mixture_sample` materializes the mixture: broadcast-join the plan
  onto the corpus, emit floor(rate) full copies of every row plus one
  more copy iff a 16-bit md5 cut of the row's id clears the
  fractional remainder — the same deterministic hash-cut sampler as
  the stratified probe (no RNG: every engine and every run returns
  the identical row set, and a row's fate never depends on other
  rows). Repeats are a JVM `sequence` + `posexplode` — map-side,
  zero additional shuffles.
- `temperature_weights` derives the XLM-R-style smoothed weights
  from per-domain token counts on the driver (the counts are the
  plan's tiny aggregate — bounded-scalar class, never the corpus).

Scale shape: ONE aggregation shuffle with one output row per domain,
then a broadcast join and a pure map. At 100 TB the only thing that
grows is the scan; the plan stays a handful of rows. The whole path
is JVM expressions (md5/substring/sequence/posexplode) — no Python.

Determinism contract (the DuckDB oracle hash-matches values): token
counts are exact BIGINTs; rate is one double expression written
identically in both engines (IEEE-754 ops on identical inputs are
bit-identical); the fractional cut is floored to a 16-bit integer
and compared as a 4-hex-char string, so no float ever reaches the
per-row membership test.

Caveat (inherent to budget-driven mixing, not to the sampler): the
plan's rates depend on the corpus' domain totals, so appending data
changes rates and therefore membership. Freeze the PLAN (it is a
DataFrame — persist it) to get append-stable sampling; the per-row
hash-cut itself never looks at other rows.

Streaming: `mixture_sample` with a frozen plan is stateless (no agg,
no state — broadcast join + explode), so it composes directly into a
streaming micro-batch graph; the deterministic sampler makes the
drained stream row-identical to the batch materialization (asserted
in tests/test_mixing.py). `mixture_plan` is a corpus aggregate —
compute it batch-side, persist, and hand the frozen plan to the
stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gus_spark.functions.tokenize import tokenize

#: resolution of the fractional hash cut: first 16 bits of md5(id).
_CUT_BITS = 65536


def _n_tokens(text: Column) -> Column:
    """Whitespace token count — the curation family's convention
    (split(trim(text), '\\s+'); see queries/curation.py for the
    phantom-empty-token caveat the convention documents)."""
    return F.size(tokenize(text)).cast("long")


def _weight_case(weights: dict[str, float], domain: Column) -> Column:
    expr = F.lit(None).cast("double")
    for d, w in weights.items():
        expr = F.when(domain == d, F.lit(float(w))).otherwise(expr)
    return expr


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(domain, n_docs, n_tokens, weight, rate, epochs, cut) — one row
    per weighted domain present in the corpus. `epochs` full passes
    plus the `cut`-gated fractional pass over a domain yields
    ~`token_budget * weight` tokens of it in the mixture."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be > 0, got {token_budget}")
    for d, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for domain {d!r}: {w}")
    domain = F.col(domain_col)
    counts = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(domain.alias("domain"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(_n_tokens(F.col(text_col))).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    weight = _weight_case(weights, F.col("domain"))
    rate = (
        F.lit(float(token_budget))
        * F.col("weight")
        / F.col("n_tokens").cast("double")
    )
    frac_cut = F.floor(
        (F.col("rate") - F.floor(F.col("rate"))) * F.lit(_CUT_BITS)
    ).cast("int")
    return (
        counts.withColumn("weight", weight)
        .filter(F.col("weight").isNotNull())
        .withColumn("rate", rate)
        .withColumn("epochs", F.floor(F.col("rate")).cast("int"))
        .withColumn("cut", F.lpad(F.lower(F.hex(frac_cut)), 4, "0"))
    )


def mixture_sample(
    df: DataFrame,
    plan: DataFrame,
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """The materialized mixture: every input row joined to its domain's
    plan row appears `epochs` times (epoch = 0..epochs-1) plus once
    more with epoch = epochs iff md5(id)'s first 16 bits clear `cut`.
    Unweighted domains drop (inner join). Output = input columns +
    `epoch` — downstream training reads repeats as distinct rows."""
    hash4 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    joined = df.join(
        F.broadcast(
            plan.select(
                F.col("domain").alias(domain_col), "epochs", "cut"
            )
        ),
        domain_col,
    )
    # sequence(0, epochs) is inclusive: entries < epochs are the full
    # passes, the last entry is the fractional pass gated by the cut.
    kept = F.filter(
        F.sequence(F.lit(0), F.col("epochs")),
        lambda e: (e < F.col("epochs")) | (hash4 < F.col("cut")),
    )
    return (
        joined.select(*df.columns, F.explode(kept).alias("epoch"))
    )


def sql_mixture_plan(
    weights: dict[str, float],
    token_budget: int,
    table: str = "documents",
    domain_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of `mixture_plan` as a CTE body (select one row per
    domain with epochs + cut), written so every float op matches the
    Spark expression: decimal literals cast to DOUBLE explicitly
    (DuckDB parses bare `0.3` as DECIMAL), counts as BIGINT, the same
    multiply-then-divide order."""
    w_case = " ".join(
        f"WHEN '{d}' THEN CAST({w!r} AS DOUBLE)" for d, w in weights.items()
    )
    return f"""
    SELECT domain, n_docs, n_tokens, weight,
           (CAST({token_budget} AS DOUBLE) * weight)
             / CAST(n_tokens AS DOUBLE) AS rate,
           CAST(FLOOR((CAST({token_budget} AS DOUBLE) * weight)
             / CAST(n_tokens AS DOUBLE)) AS INT) AS epochs,
           printf('%04x', CAST(FLOOR((
               (CAST({token_budget} AS DOUBLE) * weight)
                 / CAST(n_tokens AS DOUBLE)
               - FLOOR((CAST({token_budget} AS DOUBLE) * weight)
                 / CAST(n_tokens AS DOUBLE))
             ) * {_CUT_BITS}) AS INT)) AS cut
    FROM (
      SELECT {domain_col} AS domain,
             COUNT(*) AS n_docs,
             SUM(CAST(LENGTH(string_split_regex(TRIM({text_col}), '\\s+'))
                 AS BIGINT)) AS n_tokens,
             CASE {domain_col} {w_case} ELSE NULL END AS weight
      FROM {table}
      WHERE {text_col} IS NOT NULL
      GROUP BY 1, 4
    )
    WHERE n_tokens > 0 AND weight IS NOT NULL
    """


def temperature_weights(
    token_counts: dict[str, int], alpha: float = 0.3
) -> dict[str, float]:
    """XLM-R temperature sampling (Conneau et al. 2020, eq. 1):
    q_d ∝ p_d^alpha, normalized. alpha = 1 reproduces natural
    proportions, alpha → 0 approaches uniform. Driver-side pure
    Python over the plan's per-domain totals (bounded-scalar class —
    a handful of longs, never corpus data)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    total = sum(token_counts.values())
    if total <= 0:
        raise ValueError("token_counts must sum to > 0")
    smoothed = {d: (c / total) ** alpha for d, c in token_counts.items()}
    z = sum(smoothed.values())
    return {d: s / z for d, s in smoothed.items()}


# ----------------------------------------------------- per-group caps

# the splits.py portable md5-prefix identity, REUSED (one definition
# of the engine-portability-critical hash) — the seed string alone
# decorrelates the cap draw from every other seeded choice in the repo
from gus_spark.operators.splits import (  # noqa: E402
    _SPACE as _CAP_SPACE,
)
from gus_spark.operators.splits import (  # noqa: E402
    _bucket as _cap_bucket,
)
from gus_spark.operators.splits import (  # noqa: E402
    _sql_bucket as _sql_cap_bucket,
)


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    max_rows: int = 1000,
    id_col: str = "doc_id",
    priority_col: str | None = None,
    seed: str = "cap-v1",
    tier: str = "exact",
    margin: float | None = None,
) -> DataFrame:
    """Over-representation cap (the RefinedWeb/MassiveWeb-style
    domain-balance gate: Penedo et al. 2023 keep a bounded number of
    documents per registered domain so head domains cannot dominate
    the mixture): keep AT MOST ``max_rows`` rows per ``group_col``
    value, survivors the lowest (priority, id) — ``priority_col``
    ascending when given (put your quality rank there, best-first),
    else a seeded portable hash (a deterministic uniform
    sample-without-replacement per group; same seed → same survivors
    on any cluster, any partitioning). Deterministic total order —
    ties in priority break by id.

    Tiers (the repo's exact/scale pattern):

    - ``'exact'``: ONE group-keyed window (rank <= max_rows). The
      per-group sort is the cost: a planet-sized head domain sorts
      all its rows in one task's spill space.
    - ``'prefilter'`` (default-priority mode only): per-group counts
      (one agg, a row per group) joined back, then rows with hash
      bucket beyond ~(max_rows * margin / n_g) of the 60-bit space
      are dropped BEFORE the ranking window — the window then sorts
      ~max_rows * margin rows per group regardless of group size,
      which is the 100-TB shape. Because the hash is uniform, the
      prefilter admits >= max_rows survivors except with binomial-
      tail probability; ``margin`` defaults to 1 + 6/sqrt(max_rows)
      (≈ +6 sigma). The function VERIFIES the guarantee per group
      (one more count agg over prefilter survivors — rows per group,
      not corpus) and raises with guidance if any capped group
      under-admitted, so a too-tight margin is loud, never a silent
      under-cap. Check contract v2 (r14): the violation raises at
      ACTION time from a plan-level ``raise_error`` guard
      (pyspark.errors.SparkRuntimeException, same message), not as a
      build-time ValueError — see the in-body comment. Identical
      output to the exact tier (asserted in tests) — the prefilter
      only removes rows the rank would drop.

    Output: the input columns (priority hash column never
    materializes in the result)."""
    if max_rows < 1:
        raise ValueError(f"max_rows must be >= 1, got {max_rows}")
    from pyspark.sql import Window

    # loud on derived-name collisions (the write_training_shards
    # pattern): a silent overwrite-then-drop would discard a caller
    # column; prefilter additionally equi-joins on _ng/_thr (duplicate
    # name -> ambiguous filter) and renames the counts key to _cg
    # (duplicate name -> AMBIGUOUS_REFERENCE at the drop).
    derived = (
        {"_rnk"}
        if tier == "exact"
        else {"_rnk", "_b", "_ng", "_thr", "_cg"}
    )
    clobbered = derived & set(df.columns)
    if clobbered:
        raise ValueError(
            f"input already carries {sorted(clobbered)} — cap_per_group "
            "derives these internally (a silent overwrite would discard "
            "the caller's columns; rename or drop them first)"
        )
    pri = (
        F.col(priority_col)
        if priority_col is not None
        else _cap_bucket(F.col(id_col), seed)
    )
    w = Window.partitionBy(group_col).orderBy(pri, id_col)
    if tier == "exact":
        return (
            df.withColumn("_rnk", F.row_number().over(w))
            .filter(F.col("_rnk") <= max_rows)
            .drop("_rnk")
        )
    if tier != "prefilter":
        raise ValueError(f"unknown tier {tier!r}")
    if priority_col is not None:
        raise ValueError(
            "tier='prefilter' thresholds the seeded uniform hash; a "
            "custom priority_col has no known distribution to "
            "threshold — use tier='exact' (or rank your priority "
            "into a uniform key first)"
        )
    margin = _cap_margin(max_rows, margin)
    # counts is consumed TWICE with non-identical plans (the broadcast
    # side renames the key to _cg; the guarantee check filters it
    # as-is), so ReuseExchange can't dedupe them — without this
    # boundary the check's collect would re-aggregate the whole input
    # a third time. One row per group: the cheapest checkpoint in the
    # plan, and it makes the two-scans claim below actually true.
    # (r13 note: a driver-side-collect variant — counts collected once,
    # broadcast from a LocalRelation, guarantee checked as a dict walk
    # — was built and A/B-measured under the bench protocol: no win
    # (min 1.42 s vs 1.22 s here); the barrier savings drown in the
    # collect/createDataFrame round trips. Kept as-is deliberately.)
    counts = cap_thresholds(
        df, group_col=group_col, max_rows=max_rows, margin=margin
    ).localCheckpoint(eager=False)
    # null-safe: a NULL group is a legitimate group (the exact tier
    # windows it); a plain equi-join would silently drop its rows
    pre = (
        df.withColumn("_b", _cap_bucket(F.col(id_col), seed))
        .join(
            F.broadcast(
                counts.withColumnRenamed(group_col, "_cg")
            ),
            F.col(group_col).eqNullSafe(F.col("_cg")),
        )
        .drop("_cg")
        .filter(F.col("_b") < F.col("_thr"))
    )
    # the guarantee check below and the final ranking window both
    # consume `pre`; without a materialization boundary each would
    # re-run the full scan + hash + broadcast join. localCheckpoint
    # truncates the lineage and stores the (bounded: over-cap groups
    # contribute ~max_rows*margin rows each; under-cap groups pass
    # whole, exactly the rows the result keeps anyway) survivor set on
    # executor memory-and-disk. With the counts checkpoint above, the
    # input is scanned exactly twice total — once for the group
    # counts, once to build `pre` — instead of four times (pre twice +
    # counts twice). Lazy: the check's collect() materializes both.
    pre = pre.localCheckpoint(eager=False)
    # loud guarantee check: every group that HAS max_rows+ rows must
    # still have >= max_rows after the prefilter. Survivor counts are
    # tallied against `counts` — which holds EVERY group — so a group
    # the threshold wiped out entirely (kept = 0, hence absent from
    # the survivors) is still detected. Bounded: one row per group.
    #
    # Guarantee-check contract v2 (r14, VERDICT r13 top-next #1,
    # guide §1.2/§5): the check is PLAN-LEVEL — an empty-by-
    # construction union branch whose single Filter raises from
    # `raise_error` on any under-admitted group — instead of v1's
    # build-time `.limit(1).collect()`. Violations now surface when
    # the result is ACTED on (collect/write/count — the Filter cannot
    # be pruned away), as pyspark.errors.SparkRuntimeException
    # [USER_RAISED_EXCEPTION] carrying the same message text, not as
    # a build-time ValueError. v1 paid one extra Spark job plus a
    # driver sync on EVERY build; v2 folds the identical per-group
    # logic into the query itself — the checkpoints above still make
    # input scans exactly two, now under ONE action. The raise sits
    # inside the ONLY filter predicate (a single when()), so no
    # optimizer reordering can evaluate it on non-violating rows.
    #
    # Shape note: v1's left join (counts ⟕ survivor counts) is
    # replaced by ONE union+aggregation — tag counts rows with their
    # _ng and survivor rows with a 1, group by the key, compare
    # max(_ng) to sum(tag). Same decision table (counts holds EVERY
    # group, so a wiped-out group still surfaces with kept = 0), but
    # join-free: the first in-plan draft's join attracted Spark's
    # runtime Bloom-filter injection — two SinglePartition bloom
    # subquery jobs to guard a groups-bounded frame. Map-side partial
    # aggregation collapses the survivor side to one row per group
    # before the exchange, so the check shuffles O(groups), never
    # O(rows).
    tally = (
        counts.select(
            F.col(group_col), F.col("_ng"), F.lit(0).alias("_k")
        )
        .unionByName(
            pre.select(
                F.col(group_col),
                F.lit(None).cast("long").alias("_ng"),
                F.lit(1).alias("_k"),
            )
        )
        .groupBy(group_col)
        .agg(
            F.max("_ng").alias("_ng"),
            F.sum("_k").cast("long").alias("_kept"),
        )
    )
    msg = F.concat(
        F.lit("prefilter under-admitted group "),
        F.coalesce(F.col(group_col).cast("string"), F.lit("NULL")),
        F.lit(" ("),
        F.col("_kept").cast("string"),
        F.lit(
            f" of the required {max_rows}): margin {margin:.4f} is"
            " too tight for this group's hash draw — re-run with a"
            " larger margin (or tier='exact')"
        ),
    )
    w_pre = Window.partitionBy(group_col).orderBy("_b", id_col)
    capped = (
        pre.withColumn("_rnk", F.row_number().over(w_pre))
        .filter(F.col("_rnk") <= max_rows)
        .drop("_rnk", "_b", "_ng", "_thr")
    )
    # Every guard column raises on a violating group, so a consumer's
    # filter or projection pushed into this branch must evaluate the
    # raise: with null-literal columns a pushed predicate folds to
    # false and PruneFilters drops the whole branch, guard included.
    # Types come from the INPUT's schema (already analyzed at the
    # scan) — capped's columns are exactly df's by construction, and
    # touching capped.schema would force a fresh analysis pass over
    # the whole window plan.
    violation = (F.col("_ng") > max_rows) & (F.col("_kept") < max_rows)
    guard = tally.filter(
        F.when(violation, F.raise_error(msg).cast("boolean")).otherwise(
            F.lit(False)
        )
    ).select(
        *[
            F.when(violation, F.raise_error(msg))
            .cast(f.dataType)
            .alias(f.name)
            for f in df.schema.fields
        ]
    )
    return capped.unionByName(guard)


def _cap_margin(max_rows: int, margin: float | None) -> float:
    """Default admission margin: +6σ of the binomial draw — see
    cap_per_group's tier docs."""
    return (
        margin if margin is not None else 1.0 + 6.0 / (max_rows ** 0.5)
    )


def cap_thresholds(
    df: DataFrame,
    group_col: str = "source",
    max_rows: int = 1000,
    margin: float | None = None,
) -> DataFrame:
    """The per-group cap as a FIT-ONCE artifact (the CCNet
    perplexity_thresholds precedent from operators/lm.py): one row per
    group — (group, _ng, _thr) — where ``_thr`` is the 60-bit-space
    admission threshold the prefilter tier uses: over-cap groups admit
    ~max_rows × margin of their rows by seeded hash; under-cap groups
    get the full space (pass whole). Integer arithmetic identical to
    ``cap_per_group(tier='prefilter')`` — the two can never drift
    (the prefilter tier calls this). Persist the frame and apply it to
    arriving data with `apply_cap_thresholds` — the streaming form of
    the cap."""
    if max_rows < 1:
        raise ValueError(f"max_rows must be >= 1, got {max_rows}")
    margin = _cap_margin(max_rows, margin)
    space = _CAP_SPACE
    counts = df.groupBy(group_col).agg(F.count("*").alias("_ng"))
    # threshold: admit ~max_rows*margin of each over-cap group;
    # under-cap groups pass whole (threshold >= space)
    thr = F.when(
        F.col("_ng") > max_rows,
        F.least(
            F.lit(space),
            (F.lit(float(space) * max_rows * margin) / F.col("_ng"))
            .cast("long") + 1,
        ),
    ).otherwise(F.lit(space))
    return counts.withColumn("_thr", thr)


def apply_cap_thresholds(
    df: DataFrame,
    thresholds: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "cap-v1",
) -> DataFrame:
    """Label rows against FROZEN cap thresholds — a pure broadcast map
    (no window, no state, no sort at any scale): the input columns
    plus ``keep`` — true/false for fitted groups (seeded hash below /
    at-or-above the group's threshold), NULL for groups absent from
    the fit (loud-by-NULL, the assign_buckets convention: a brand-new
    head domain arriving after the fit is a refit signal, not a row to
    silently pass or drop). Deterministic per (seed, id): a streaming
    foreachBatch labels bit-identically to the batch map (asserted in
    tests), and re-deliveries label the same way.

    Semantics vs the batch cap: against a FROZEN fit this is a RATE
    cap — each over-cap group keeps ~(max_rows × margin / n_g) of its
    arriving rows, i.e. ~max_rows × margin per reference-corpus
    volume. It does NOT re-rank or bound the absolute count as the
    corpus grows past the fit (that requires the batch tiers);
    refit cadence is the deployment knob, exactly as CCNet's offline
    threshold fit."""
    derived = {"_b", "_tg", "_thr", "keep"} & set(df.columns)
    if derived:
        raise ValueError(
            f"input already carries {sorted(derived)} — "
            "apply_cap_thresholds derives these internally; rename or "
            "drop them first"
        )
    # one-row-per-group invariant checked loudly, and the narrow
    # artifact checkpointed so the check and the broadcast share ONE
    # evaluation (a live cap_thresholds plan is a corpus agg — the
    # check must not re-run it)
    from gus_spark.operators.util import checked_artifact

    art = checked_artifact(
        thresholds.select(group_col, "_thr"),
        group_col,
        "cap thresholds artifact",
    )
    t = F.broadcast(
        art.select(F.col(group_col).alias("_tg"), "_thr")
    )
    return (
        df.withColumn("_b", _cap_bucket(F.col(id_col), seed))
        .join(t, F.col(group_col).eqNullSafe(F.col("_tg")), "left")
        .withColumn("keep", F.col("_b") < F.col("_thr"))
        .drop("_b", "_tg", "_thr")
    )


def sql_cap_per_group(
    table: str = "documents",
    group_col: str = "source",
    max_rows: int = 1000,
    id_col: str = "doc_id",
    seed: str = "cap-v1",
) -> str:
    """DuckDB twin of the exact tier under the default hash priority."""
    b = _sql_cap_bucket(id_col, seed)
    return f"""
    SELECT * EXCLUDE (_rnk)
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY {group_col} ORDER BY {b}, {id_col}
             ) AS _rnk
      FROM {table})
    WHERE _rnk <= {max_rows}
    """
