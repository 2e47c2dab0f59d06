"""Data-mixture planning + deterministic materialization
(gus_spark/operators/mixing.py).

Claims under test:
- the plan's counts/rates/epochs/cut match a pure-Python reference
  computed from the same corpus;
- materialized token mass per domain tracks budget * weight (the
  whole point of the mixture);
- the sampler is deterministic and partitioning-invariant, and with a
  FROZEN plan membership is append-stable (a surviving row's copies
  never change when unrelated rows arrive);
- epochs semantics: every row of a rate>=1 domain appears at least
  floor(rate) times, fractional pass gated by the md5 cut;
- unweighted domains drop; temperature_weights matches the XLM-R
  formula and its limiting behaviors.
"""

import math

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR_ORACLE
from gus_spark.operators.mixing import (
    mixture_plan,
    mixture_sample,
    temperature_weights,
)
from gus_spark.queries import catalog, table

WEIGHTS = {"en": 0.5, "zh": 0.2, "de": 0.1, "es": 0.1, "fr": 0.1}
BUDGET = 30_000


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_DIR_ORACLE, "documents")


@pytest.fixture(scope="module")
def plan_rows(spark, docs):
    plan = mixture_plan(docs, WEIGHTS, BUDGET, domain_col="lang")
    return {r["domain"]: r.asDict() for r in plan.collect()}


def _py_reference(docs_rows):
    """Pure-Python twin of mixture_plan on collected (lang, text)."""
    counts = {}
    for lang, text in docs_rows:
        if text is None:
            continue
        n = len(text.strip().split()) if text.strip() else 1
        # Spark split(trim(''), '\s+') yields [''] -> size 1; mirror it
        d = counts.setdefault(lang, {"n_docs": 0, "n_tokens": 0})
        d["n_docs"] += 1
        d["n_tokens"] += n
    out = {}
    for lang, c in counts.items():
        w = WEIGHTS.get(lang)
        if w is None or c["n_tokens"] == 0:
            continue
        rate = float(BUDGET) * w / float(c["n_tokens"])
        epochs = math.floor(rate)
        cut = format(math.floor((rate - epochs) * 65536), "04x")
        out[lang] = {**c, "weight": w, "rate": rate,
                     "epochs": epochs, "cut": cut}
    return out


def test_plan_matches_python_reference(docs, plan_rows):
    ref = _py_reference(
        [(r.lang, r.text) for r in docs.select("lang", "text").collect()]
    )
    assert set(plan_rows) == set(ref)
    for lang, expect in ref.items():
        got = plan_rows[lang]
        for k in ("n_docs", "n_tokens", "epochs", "cut"):
            assert got[k] == expect[k], (lang, k, got, expect)
        assert got["rate"] == pytest.approx(expect["rate"], rel=0, abs=0)


def test_sampled_token_mass_tracks_budget(spark, docs, plan_rows):
    """Achieved per-domain token mass ≈ budget * weight. The hash cut
    is binomial over docs; tolerate a few mean-doc-lengths of slack."""
    sampled = mixture_sample(
        docs, mixture_plan(docs, WEIGHTS, BUDGET, domain_col="lang"),
        domain_col="lang",
    )
    got = {
        r["lang"]: r["t"]
        for r in sampled.groupBy("lang")
        .agg(F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("t"))
        .collect()
    }
    for lang, w in WEIGHTS.items():
        target = BUDGET * w
        mean_doc = plan_rows[lang]["n_tokens"] / plan_rows[lang]["n_docs"]
        # sum over docs of L_i * Bernoulli(frac): heterogeneous doc
        # lengths roughly double the binomial std — 2 mean-doc-lengths
        # per sqrt(n) of slack covers ~4 sigma of the hash-cut draw
        slack = 2 * mean_doc * math.sqrt(plan_rows[lang]["n_docs"])
        assert abs(got[lang] - target) < max(slack, 0.2 * target), (
            lang, got[lang], target,
        )


def test_epochs_and_fractional_semantics(spark, docs, plan_rows):
    sampled = mixture_sample(
        docs, mixture_plan(docs, WEIGHTS, BUDGET, domain_col="lang"),
        domain_col="lang",
    ).select("doc_id", "lang", "epoch")
    per_doc = {
        (r.doc_id, r.lang): r.c
        for r in sampled.groupBy("doc_id", "lang")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    import hashlib

    for (doc_id, lang), c in per_doc.items():
        p = plan_rows[lang]
        h4 = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
        expect = p["epochs"] + (1 if h4 < p["cut"] else 0)
        assert c == expect, (doc_id, lang, c, expect)
    # every surviving doc of an epochs>=1 domain appears; at sf0.01
    # en and zh must actually be in the repeat regime for this test
    # to exercise it
    assert plan_rows["en"]["epochs"] >= 1
    assert plan_rows["zh"]["epochs"] >= 1
    n_en = docs.filter(F.col("lang") == "en").count()
    assert len([1 for (_, l) in per_doc if l == "en"]) == n_en


def test_deterministic_and_partitioning_invariant(spark, docs):
    plan = mixture_plan(docs, WEIGHTS, BUDGET, domain_col="lang")
    a = mixture_sample(docs, plan, domain_col="lang")
    b = mixture_sample(
        docs.repartition(7), plan, domain_col="lang"
    )
    rows_a = sorted((r.doc_id, r.epoch) for r in a.select("doc_id", "epoch").collect())
    rows_b = sorted((r.doc_id, r.epoch) for r in b.select("doc_id", "epoch").collect())
    assert rows_a == rows_b and rows_a


def test_frozen_plan_is_append_stable(spark, docs):
    """With the plan frozen, appending new docs never changes an
    existing row's copies — its fate is a pure function of its id."""
    plan = mixture_plan(docs, WEIGHTS, BUDGET, domain_col="lang")
    before = {
        (r.doc_id, r.epoch)
        for r in mixture_sample(docs, plan, domain_col="lang")
        .select("doc_id", "epoch").collect()
    }
    extra = spark.createDataFrame(
        [(10_000_000 + i, "pad pad pad", "en", "srcX", 11)
         for i in range(50)],
        docs.schema,
    )
    after = {
        (r.doc_id, r.epoch)
        for r in mixture_sample(docs.unionByName(extra), plan,
                                domain_col="lang")
        .select("doc_id", "epoch").collect()
    }
    assert before <= after
    assert all(d >= 10_000_000 for d, _ in after - before)


def test_unweighted_domain_drops(spark, docs):
    plan = mixture_plan(docs, {"en": 1.0}, BUDGET, domain_col="lang")
    langs = {
        r.lang
        for r in mixture_sample(docs, plan, domain_col="lang")
        .select("lang").distinct().collect()
    }
    assert langs == {"en"}


def test_catalog_query_shape(spark):
    df = catalog()["mixture_sample_documents"].fn(spark, SF_DIR_ORACLE)
    assert df.columns == ["doc_id", "lang", "source", "epoch"]
    assert df.count() > 0


def test_temperature_weights():
    counts = {"en": 100_000, "zh": 10_000, "de": 5_000}
    natural = temperature_weights(counts, alpha=1.0)
    total = sum(counts.values())
    for d, c in counts.items():
        assert natural[d] == pytest.approx(c / total)
    smoothed = temperature_weights(counts, alpha=0.3)
    assert sum(smoothed.values()) == pytest.approx(1.0)
    # smoothing compresses the spread toward uniform, preserving order
    assert natural["en"] > smoothed["en"] > 1 / 3
    assert natural["de"] < smoothed["de"] < 1 / 3
    assert smoothed["en"] > smoothed["zh"] > smoothed["de"]
    with pytest.raises(ValueError):
        temperature_weights(counts, alpha=0.0)
    with pytest.raises(ValueError):
        temperature_weights({"a": 0}, alpha=0.5)


def test_plan_validation():
    with pytest.raises(ValueError):
        temperature_weights({}, alpha=0.5)


def test_invalid_args(spark, docs):
    with pytest.raises(ValueError):
        mixture_plan(docs, WEIGHTS, 0, domain_col="lang")
    with pytest.raises(ValueError):
        mixture_plan(docs, {"en": -0.1}, 10, domain_col="lang")


def test_mixture_sample_applies_to_streams(spark, docs, tmp_path):
    """The materialization is stateless given a FROZEN plan (broadcast
    join + sequence/explode — no agg, no state), so the same
    mixture_sample call composes into a streaming micro-batch graph;
    the deterministic sampler makes the drained stream row-identical
    to the batch materialization. (The PLAN itself is a corpus
    aggregate — compute it batch-side and freeze it, per the module's
    append-stability caveat.)"""
    src = str(tmp_path / "src")
    docs.coalesce(2).write.parquet(src)
    plan = mixture_plan(docs, WEIGHTS, BUDGET, domain_col="lang")
    plan.cache().count()  # freeze: don't recompute per micro-batch

    stream = spark.readStream.schema(docs.schema).parquet(src)
    sampled = mixture_sample(stream, plan, domain_col="lang")
    q = (
        sampled.select("doc_id", "lang", "epoch")
        .writeStream.format("memory")
        .queryName("mix_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.lang, r.epoch)
        for r in spark.sql("SELECT * FROM mix_stream").collect()
    }
    want = {
        (r.doc_id, r.lang, r.epoch)
        for r in mixture_sample(docs, plan, domain_col="lang")
        .select("doc_id", "lang", "epoch")
        .collect()
    }
    plan.unpersist()
    assert got == want and got


# ----------------------------------------------------- per-group caps
class TestCapPerGroup:
    """cap_per_group (late r10, RefinedWeb-style domain cap): exact
    tier DuckDB parity, prefilter==exact equality, priority-column
    mode, determinism, under-cap groups untouched, margin guarantee
    loudness, validation."""

    # each source holds 25 docs at sf0.01 — the cap must bind
    CAP = 10

    def test_exact_matches_duckdb_twin(self, spark, docs):
        import duckdb

        from gus_spark.operators.mixing import (
            cap_per_group,
            sql_cap_per_group,
        )
        from oracle_harness import frame_key

        got = cap_per_group(
            docs.select("doc_id", "source"), max_rows=self.CAP
        ).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW d AS SELECT doc_id, source FROM "
            f"'{SF_DIR_ORACLE}/documents.parquet'"
        )
        want = con.execute(
            sql_cap_per_group("d", max_rows=self.CAP)
        ).df()
        assert frame_key(got) == frame_key(want)

    def test_prefilter_equals_exact(self, spark, docs):
        from gus_spark.operators.mixing import cap_per_group

        d = docs.select("doc_id", "source")
        exact = {
            r.doc_id
            for r in cap_per_group(d, max_rows=self.CAP).collect()
        }
        pre = {
            r.doc_id
            for r in cap_per_group(
                d, max_rows=self.CAP, tier="prefilter"
            ).collect()
        }
        assert pre == exact
        # per-group sizes honor the cap exactly (every source has
        # more than CAP docs in this corpus)
        sizes = {
            r.source: r.n
            for r in cap_per_group(d, max_rows=self.CAP)
            .groupBy("source")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert all(n == self.CAP for n in sizes.values()), sizes

    def test_under_cap_groups_pass_whole(self, spark, docs):
        from gus_spark.operators.mixing import cap_per_group

        d = docs.select("doc_id", "source")
        n = d.count()
        for tier in ("exact", "prefilter"):
            assert (
                cap_per_group(d, max_rows=10_000, tier=tier).count()
                == n
            ), tier

    def test_priority_column_keeps_best(self, spark, docs):
        from gus_spark.operators.mixing import cap_per_group

        d = docs.select(
            "doc_id", "source",
            (F.col("doc_id") % 101).alias("badness"),
        )
        kept = cap_per_group(
            d, max_rows=self.CAP, priority_col="badness"
        )
        # survivors are the CAP lowest (badness, doc_id) per source
        rows = d.collect()
        want = set()
        by_src = {}
        for r in rows:
            by_src.setdefault(r.source, []).append(r)
        for src, rs in by_src.items():
            rs.sort(key=lambda r: (r.badness, r.doc_id))
            want |= {r.doc_id for r in rs[: self.CAP]}
        assert {r.doc_id for r in kept.collect()} == want

    def test_margin_guarantee_is_loud(self, spark, docs):
        """Guarantee-check contract v2 (r14): the violation raises at
        ACTION time from the plan-level raise_error guard — as
        SparkRuntimeException [USER_RAISED_EXCEPTION] with the same
        message text v1's build-time ValueError carried."""
        from pyspark.errors import SparkRuntimeException

        from gus_spark.operators.mixing import cap_per_group

        with pytest.raises(SparkRuntimeException, match="margin"):
            # margin so tight the prefilter cannot admit CAP rows
            cap_per_group(
                docs.select("doc_id", "source"),
                max_rows=self.CAP,
                tier="prefilter",
                margin=0.1,
            ).collect()

    def test_validation(self, spark, docs):
        from gus_spark.operators.mixing import cap_per_group

        d = docs.select("doc_id", "source")
        with pytest.raises(ValueError, match="max_rows"):
            cap_per_group(d, max_rows=0)
        with pytest.raises(ValueError, match="tier"):
            cap_per_group(d, tier="banana")
        with pytest.raises(ValueError, match="priority"):
            cap_per_group(
                d.withColumn("p", F.lit(1)),
                tier="prefilter",
                priority_col="p",
            )

    def test_derived_name_collisions_are_loud(self, spark, docs):
        """Caller columns named like the tiers' internals must raise
        the guard's ValueError, never a silent overwrite-then-drop or
        an opaque AMBIGUOUS_REFERENCE (r11 review: '_cg' slipped the
        guard and died in the analyzer)."""
        from gus_spark.operators.mixing import cap_per_group

        base = docs.select("doc_id", "source")
        for col in ("_rnk",):
            with pytest.raises(ValueError, match="derives"):
                cap_per_group(base.withColumn(col, F.lit(1)))
        for col in ("_rnk", "_b", "_ng", "_thr", "_cg"):
            with pytest.raises(ValueError, match="derives"):
                cap_per_group(
                    base.withColumn(col, F.lit(1)), tier="prefilter"
                )

    def test_null_group_is_capped_not_dropped(self, spark, docs):
        from gus_spark.operators.mixing import cap_per_group

        d = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0, None)
            .otherwise(F.col("source"))
            .alias("source"),
        )
        got = {}
        for tier in ("exact", "prefilter"):
            out = cap_per_group(d, max_rows=5, tier=tier).collect()
            got[tier] = {
                r.doc_id for r in out if r.source is None
            }
            assert len(got[tier]) == 5, tier  # NULL group capped
        assert got["exact"] == got["prefilter"]

    def test_vanished_group_is_loud(self, spark, docs):
        """A margin so tight the threshold admits ZERO rows of an
        over-cap group: the group is absent from the survivors, so
        the guarantee check must find it through the counts side
        (which holds every group) and raise — never silently emit a
        capped output missing the group entirely. Exercised through
        ``count()`` deliberately: count prunes every column, so this
        also pins that the v2 plan-level guard lives in a Filter
        (prune-proof), not in a projection."""
        from pyspark.errors import SparkRuntimeException

        from gus_spark.operators.mixing import cap_per_group

        one = docs.select(
            "doc_id", F.lit("only").alias("source")
        ).limit(5)
        with pytest.raises(SparkRuntimeException, match="margin"):
            cap_per_group(
                one, max_rows=1, tier="prefilter", margin=1e-12
            ).count()


#: the consumer shapes a cap result meets downstream — a filter on the
#: group or the id column, a limit, a one-column projection, a count
_CAP_CONSUMERS = {
    "count": lambda d: d.count(),
    "limit_1": lambda d: len(d.limit(1).collect()),
    "one_column": lambda d: d.select("doc_id").count(),
    "group_filter": lambda d: d.filter(F.col("source") == "a").count(),
    "id_filter": lambda d: d.filter(F.col("doc_id") < 100).count(),
}


class TestCapGuardConsumers:
    """The prefilter tier's under-admission guard raises for every
    consumer of the result: a pushed-down filter or a column pruning
    must not be able to drop the guard branch."""

    @pytest.fixture(scope="class")
    def three_groups(self, spark):
        groups = F.array(*[F.lit(g) for g in "abc"])
        return spark.range(9000).select(
            F.col("id").alias("doc_id"),
            F.element_at(groups, (F.col("id") % 3 + 1).cast("int")).alias(
                "source"
            ),
        )

    @pytest.mark.parametrize("consumer", sorted(_CAP_CONSUMERS))
    def test_violation_raises_for_consumer(self, three_groups, consumer):
        from pyspark.errors import SparkRuntimeException

        from gus_spark.operators.mixing import cap_per_group

        capped = cap_per_group(
            three_groups, max_rows=2000, tier="prefilter", margin=1e-12
        )
        with pytest.raises(SparkRuntimeException, match="margin"):
            _CAP_CONSUMERS[consumer](capped)

    def test_no_violation_keeps_exactly_the_capped_rows(self, three_groups):
        from gus_spark.operators.mixing import cap_per_group

        pre = cap_per_group(three_groups, max_rows=2000, tier="prefilter")
        exact = cap_per_group(three_groups, max_rows=2000)
        assert sorted(pre.collect()) == sorted(exact.collect())
        for name, consume in _CAP_CONSUMERS.items():
            assert consume(pre) == consume(exact), name


class TestCapThresholds:
    """cap_thresholds / apply_cap_thresholds (r11 — the CCNet
    frozen-threshold decomposition applied to the cap): the artifact
    is identical to the prefilter tier's internals; applying it to
    the fit corpus reproduces the prefilter admission exactly; unseen
    groups are loud-by-NULL; a streaming micro-batch labels
    bit-identically to the batch map."""

    CAP = 10

    def test_apply_reproduces_prefilter_admission(self, spark, docs):
        from gus_spark.operators.mixing import (
            apply_cap_thresholds,
            cap_per_group,
            cap_thresholds,
        )
        from gus_spark.operators.splits import _SPACE

        # group by lang: every group (64-218 docs) exceeds
        # CAP x margin (~29), so every threshold BINDS — with groups
        # under that product the prefilter correctly admits whole
        # groups (threshold = space) and the window does the capping
        d = docs.select("doc_id", "lang")
        thr = cap_thresholds(d, group_col="lang", max_rows=self.CAP)
        rows = {r["lang"]: (r["_ng"], r["_thr"]) for r in thr.collect()}
        assert all(t < _SPACE for _n, t in rows.values()), rows
        labeled = apply_cap_thresholds(d, thr, group_col="lang")
        kept = {r.doc_id for r in labeled.collect() if r.keep}
        # the margin guarantee carries over on the fit corpus: every
        # group admits >= CAP rows, and the EXACT capped output is a
        # subset of the admission (the prefilter's own contract)
        per_group = {}
        for r in labeled.collect():
            if r.keep:
                per_group[r.lang] = per_group.get(r.lang, 0) + 1
        assert all(n >= self.CAP for n in per_group.values()), per_group
        assert any(  # and it genuinely drops rows (a real rate cap)
            n < rows[g][0] for g, n in per_group.items()
        ), per_group
        exact = {
            r.doc_id
            for r in cap_per_group(
                d, group_col="lang", max_rows=self.CAP
            ).collect()
        }
        assert exact <= kept

    def test_under_cap_groups_keep_everything(self, spark, docs):
        from gus_spark.operators.mixing import (
            apply_cap_thresholds,
            cap_thresholds,
        )

        d = docs.select("doc_id", "source")
        thr = cap_thresholds(d, max_rows=10_000)
        labeled = apply_cap_thresholds(d, thr)
        assert labeled.filter(~F.col("keep")).count() == 0
        assert labeled.filter(F.col("keep")).count() == d.count()

    def test_unseen_group_is_null_not_silent(self, spark, docs):
        from gus_spark.operators.mixing import (
            apply_cap_thresholds,
            cap_thresholds,
        )

        d = docs.select("doc_id", "source")
        thr = cap_thresholds(d, max_rows=self.CAP)
        alien = spark.createDataFrame(
            [(10_000_000, "srcNEW")], "doc_id long, source string"
        )
        out = apply_cap_thresholds(d.unionByName(alien), thr)
        r = out.filter(F.col("doc_id") == 10_000_000).first()
        assert r.keep is None
        assert out.filter(F.col("keep").isNull()).count() == 1

    def test_stream_labels_bit_identically(self, spark, docs, tmp_path):
        from gus_spark.operators.mixing import (
            apply_cap_thresholds,
            cap_thresholds,
        )

        d = docs.select("doc_id", "source")
        src = str(tmp_path / "cap_src")
        d.coalesce(2).write.parquet(src)
        thr = cap_thresholds(d, max_rows=self.CAP)
        thr.cache().count()  # freeze: don't recompute per micro-batch
        stream = spark.readStream.schema(d.schema).parquet(src)
        q = (
            apply_cap_thresholds(stream, thr)
            .writeStream.format("memory")
            .queryName("cap_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.doc_id, r.keep)
            for r in spark.sql("SELECT doc_id, keep FROM cap_stream").collect()
        }
        want = {
            (r.doc_id, r.keep)
            for r in apply_cap_thresholds(d, thr).collect()
        }
        thr.unpersist()
        assert got == want and got

    def test_derived_collisions_loud(self, spark, docs):
        from gus_spark.operators.mixing import (
            apply_cap_thresholds,
            cap_thresholds,
        )

        d = docs.select("doc_id", "source")
        thr = cap_thresholds(d, max_rows=self.CAP)
        with pytest.raises(ValueError, match="derives"):
            apply_cap_thresholds(d.withColumn("keep", F.lit(True)), thr)
        with pytest.raises(ValueError, match="max_rows"):
            cap_thresholds(d, max_rows=0)

    def test_duplicated_artifact_is_loud(self, spark, docs):
        from gus_spark.operators.mixing import (
            apply_cap_thresholds,
            cap_thresholds,
        )

        d = docs.select("doc_id", "source")
        thr = cap_thresholds(d, max_rows=self.CAP)
        with pytest.raises(ValueError, match="one row per key"):
            apply_cap_thresholds(d, thr.unionByName(thr))

    def test_artifact_round_trips_through_parquet(
        self, spark, docs, tmp_path
    ):
        """The fit-once artifact persists and reloads without label
        drift — the deployment shape the docstring recommends."""
        from gus_spark.operators.mixing import (
            apply_cap_thresholds,
            cap_thresholds,
        )

        d = docs.select("doc_id", "source")
        thr = cap_thresholds(d, max_rows=self.CAP)
        dest = str(tmp_path / "cap_artifact")
        thr.write.parquet(dest)
        reloaded = spark.read.parquet(dest)
        want = {
            (r.doc_id, r.keep)
            for r in apply_cap_thresholds(d, thr).collect()
        }
        got = {
            (r.doc_id, r.keep)
            for r in apply_cap_thresholds(d, reloaded).collect()
        }
        assert got == want and got

    def test_artifact_and_apply_match_duckdb_twins(self, spark, docs):
        """Engine portability of the persisted artifact: thresholds
        AND keep labels hash-match a DuckDB twin computing the same
        integer arithmetic over the same md5-prefix bucket."""
        import duckdb

        from gus_spark.operators.mixing import (
            apply_cap_thresholds,
            cap_thresholds,
        )
        from oracle_harness import frame_key
        from reference_ops import (
            sql_apply_cap_thresholds,
            sql_cap_thresholds,
        )

        d = docs.select("doc_id", "lang")
        thr = cap_thresholds(d, group_col="lang", max_rows=self.CAP)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW d AS SELECT doc_id, lang FROM "
            f"'{SF_DIR_ORACLE}/documents.parquet'"
        )
        want_thr = con.execute(
            sql_cap_thresholds("d", group_col="lang", max_rows=self.CAP)
        ).df()
        assert frame_key(thr.toPandas()) == frame_key(want_thr)
        con.execute(
            "CREATE VIEW thr AS "
            + sql_cap_thresholds("d", group_col="lang", max_rows=self.CAP)
        )
        want_keep = con.execute(
            sql_apply_cap_thresholds("d", "thr", group_col="lang")
        ).df()
        got_keep = apply_cap_thresholds(d, thr, group_col="lang").toPandas()
        assert frame_key(got_keep) == frame_key(want_keep)
