"""GraphQL shell: schema generation from the model registry + execution
over the parquet store.

Ports the observable behavior of the reference's GraphQL layer
(reference: src/cli/server/model/graphql.rs):

- SDL generation (graphql.rs:188-258): one object type per model named
  by the camelized singular model name; field order is pk first, then
  alphabetical (graphql.rs:207-216); required attributes render as
  non-null ``!``; per model the operations are ``readOne<M>(pk!)``
  (Query) and ``addOne<M>(...)`` / ``updateOne<M>(pk!, ...)`` /
  ``deleteOne<M>(pk!)`` (Mutation) (graphql.rs:229-240).
- Execution uses a published GraphQL library for parse/validate the way
  the reference uses apollo-compiler (graphql.rs:274-283): graphql-core
  here. Selection sets, aliases, named/inline fragments, ``__typename``
  and full introspection come from the library's executor — the
  behaviors gus implements by hand in resolve_selection_set_order
  (graphql.rs:415-442) and resolve_type_system (graphql.rs:444-562).
- Error model (graphql.rs:118-157): ``{data?, errors?}`` with partial
  success allowed.

Unlike the reference — which rebuilds and re-parses the schema on every
request (graphql.rs:274) — the schema is built once per registry
generation and reused.
"""

from __future__ import annotations

from typing import Any

from gus_spark.errors import GusError
from gus_spark.inflect import camelize, plural_camel
from gus_spark.model.registry import ModelRegistry
from gus_spark.model.types import AttrType, ModelDefinition
from gus_spark.storage.parquet_store import ParquetStore, _like_pattern

try:
    import graphql as gql
except ImportError:  # pragma: no cover - graphql-core is expected here
    gql = None

# Deepest offset-paged row: offset paging materializes limit+offset
# rows driver-side, so the cap bounds the worst collect at
# MAX_OFFSET + limit rows; keyset paging (after/afterSort) has no cap
# because its cost is depth-independent.
MAX_OFFSET = 10_000

# Largest single page: every readMany path (offset AND keyset) collects
# `limit` rows to the driver, so the page size itself needs the same
# bound the offset has.
MAX_LIMIT = 10_000

# Most groups a single <plural>Stats call may return: groups collect to
# the driver, so unbounded high-cardinality groupBys are the aggregate
# twin of deep offset paging. The resolver's orderBy+limit compiles to
# TakeOrderedAndProject, so the bound is enforced executor-side.
MAX_STATS_GROUPS = 10_000

# gus type -> GraphQL scalar (types.rs:46-50; Float is the engine's
# completion of the reference's commented-out Float).
_SCALARS = {
    "Integer": "Int",
    "String": "String",
    "Boolean": "Boolean",
    "Float": "Float",
}


def _gql_type(attr: AttrType, required: bool) -> str:
    base = _SCALARS[attr.primitive]
    if attr.is_array:
        # array elements are never null (model.rs:259-278)
        base = f"[{base}!]"
    return f"{base}!" if required else base


def _type_name(model: ModelDefinition) -> str:
    return camelize(model.model_name, upper_first=True)


def _fields(model: ModelDefinition, with_types: bool = True) -> list[str]:
    out = []
    for name in model.field_order:  # pk first, then alphabetical
        t = _gql_type(model.attributes[name], name in model.required)
        out.append(f"{name}: {t}")
    return out


def _numeric_attrs(model: ModelDefinition) -> list[str]:
    return [
        n
        for n in model.field_order
        if model.attributes[n].primitive in ("Integer", "Float")
        and not model.attributes[n].is_array
    ]


def _scalar_attrs(model: ModelDefinition) -> list[str]:
    return [
        n for n in model.field_order if not model.attributes[n].is_array
    ]


def generate_sdl(registry: ModelRegistry) -> str:
    """Build the SDL string (the shape create_schema emits,
    graphql.rs:188-258)."""
    types, queries, mutations, subscriptions = [], [], [], []
    for model in sorted(registry, key=lambda m: m.model_name):
        tname = _type_name(model)
        fields = "\n  ".join(_fields(model))
        types.append(f"type {tname} {{\n  {fields}\n}}")
        pk = model.primary_key
        pk_t = _gql_type(model.attributes[pk], True)
        args_all = ", ".join(_fields(model))
        patch_fields = [
            f"{n}: {_gql_type(model.attributes[n], False)}"
            for n in model.field_order
            if n != pk
        ]
        args_patch = ", ".join([f"{pk}: {pk_t}"] + patch_fields)
        queries.append(f"readOne{tname}({pk}: {pk_t}): {tname}")
        # readMany — the reference declares this plural field in its
        # dispatch (graphql.rs:336-343) but never emits it in the schema
        # and panics if reached (graphql.rs:382 `todo!()`); the engine
        # completes it: paginated scan with an optional per-attribute
        # equality filter.
        filter_args = []
        for n in model.field_order:
            attr = model.attributes[n]
            if attr.is_array:
                continue
            base = _gql_type(attr, False).rstrip("!")
            filter_args.append(f"{n}: {base}")  # equality
            if attr.primitive in ("Integer", "Float"):
                op_names = [f"{n}_gt", f"{n}_gte", f"{n}_lt", f"{n}_lte"]
            elif attr.primitive == "String":
                op_names = [f"{n}_like"]  # SQL LIKE pattern
            else:
                op_names = []
            # a real attribute literally named e.g. `score_gt` owns the
            # name; emitting the operator arg too would duplicate the
            # argument and break build_schema for the whole registry
            filter_args += [
                f"{op}: {'String' if op.endswith('_like') else base}"
                for op in op_names
                if op not in model.attributes
            ]
        # keyset pagination: `after` returns rows with pk > after in pk
        # order — the cursor compiles to a pushed-down range predicate,
        # unlike `offset` (kept for API compat) which is O(offset+limit)
        pk_base = _gql_type(model.attributes[pk], False).rstrip("!")
        queries.append(
            f"{plural_camel(model.model_name)}"
            f"(limit: Int, offset: Int, after: {pk_base}, "
            f"orderBy: String, afterSort: String, "
            f"{', '.join(filter_args)}): [{tname}!]"
        )
        # aggregate surface — beyond the reference (which has no scan
        # path at all): one Stats type per model, grouped or global
        stat_fields = ["groupValue: String", "count: Int!"]
        for n in _numeric_attrs(model):
            cam = camelize(n, upper_first=True)
            stat_fields += [
                f"sum{cam}: Float", f"avg{cam}: Float",
                f"min{cam}: Float", f"max{cam}: Float",
                f"median{cam}: Float",
                f"p25{cam}: Float", f"p75{cam}: Float", f"p95{cam}: Float",
            ]
        for n in _scalar_attrs(model):
            stat_fields.append(
                f"distinct{camelize(n, upper_first=True)}: Int"
            )
        types.append(
            f"type {tname}Stats {{\n  " + "\n  ".join(stat_fields) + "\n}"
        )
        # havingMinCount = HAVING count(*) >= N (distributed, pre-
        # collect); groupLimit bounds the driver transfer for
        # high-cardinality groupBys the same way MAX_OFFSET bounds
        # offset paging; after/pageSize scope the aggregation to the
        # SAME pk-keyset window a readMany page would return, so a
        # paging dashboard gets page stats for one bounded scan
        queries.append(
            f"{plural_camel(model.model_name)}Stats"
            f"(groupBy: String, havingMinCount: Int, groupLimit: Int, "
            f"after: {pk_base}, pageSize: Int, "
            f"{', '.join(filter_args)}): [{tname}Stats!]!"
        )
        mutations.append(f"addOne{tname}({args_all}): {tname}")
        mutations.append(f"updateOne{tname}({args_patch}): {tname}")
        mutations.append(f"deleteOne{tname}({pk}: {pk_t}): {tname}")
        # Subscription — the reference emits an EMPTY Subscription type
        # and panics on execution (graphql.rs:251-253, 353 todo!());
        # completed here as a snapshot-seq polling change feed: each
        # event is the batch of records inserted by one commit.
        subscriptions.append(
            f"{plural_camel(model.model_name)}"
            f"(pollIntervalMs: Int): [{tname}!]!"
        )
    parts = types
    if queries:
        parts.append("type Query {\n  " + "\n  ".join(queries) + "\n}")
        parts.append("type Mutation {\n  " + "\n  ".join(mutations) + "\n}")
        parts.append(
            "type Subscription {\n  " + "\n  ".join(subscriptions) + "\n}"
        )
    return "\n\n".join(parts) + "\n"


class GraphQLApi:
    """Executable GraphQL endpoint over a registry + store."""

    def __init__(self, registry: ModelRegistry, store: ParquetStore):
        if gql is None:
            raise RuntimeError("graphql-core is not available")
        self.registry = registry
        self.store = store
        self.sdl = generate_sdl(registry)
        self.schema = gql.build_schema(self.sdl)
        self._wire_resolvers()

    # -- resolver wiring ---------------------------------------------------
    def _wire_resolvers(self) -> None:
        query_type = self.schema.query_type
        mutation_type = self.schema.mutation_type
        subscription_type = self.schema.subscription_type
        for model in self.registry:
            tname = _type_name(model)
            if query_type and f"readOne{tname}" in query_type.fields:
                query_type.fields[f"readOne{tname}"].resolve = self._read_one(model)
            plural = plural_camel(model.model_name)
            if query_type and plural in query_type.fields:
                query_type.fields[plural].resolve = self._read_many(model)
            if query_type and f"{plural}Stats" in query_type.fields:
                query_type.fields[f"{plural}Stats"].resolve = self._stats(model)
            if mutation_type:
                mutation_type.fields[f"addOne{tname}"].resolve = self._add_one(model)
                mutation_type.fields[f"updateOne{tname}"].resolve = (
                    self._update_one(model)
                )
                mutation_type.fields[f"deleteOne{tname}"].resolve = (
                    self._delete_one(model)
                )
            if subscription_type and plural in subscription_type.fields:
                field = subscription_type.fields[plural]
                field.subscribe = self._subscribe_changes(model)
                field.resolve = lambda event, _info, **_args: event

    def _read_one(self, model: ModelDefinition):
        def resolve(_obj, _info, **args):
            return self._wrap(
                lambda: self.store.read_one(model, _pk_str(model, args))
            )

        return resolve

    def _read_many(self, model: ModelDefinition):
        """The completed scan path: filters push into the parquet scan;
        pk-ordered pagination keeps pages deterministic.

        Pagination is keyset-first: ``after`` compiles to a ``pk >
        $after`` predicate that reaches the scan, so page N costs the
        same as page 1 at any table size. ``offset`` is kept for API
        compatibility but is O(offset+limit) by nature — clients paging
        deep should switch to the cursor; the two do not combine.

        A pk keyset page (``after`` without ``orderBy``) is bounded and
        key-addressed, so it is served by ``ParquetStore.scan_page``:
        an Arrow read of the files whose pk range may hold the page,
        with no Spark job. The other shapes stay on Spark
        (``read_many_df``) because each needs the whole snapshot: an
        offset page sorts every matching row to skip the first
        ``offset``, and an ``orderBy``/``afterSort`` page orders by a
        column the manifest keeps no ranges for."""

        def resolve(_obj, _info, **args):
            from gus_spark.model.record import add_null_values

            limit = args.pop("limit", None)
            limit = 100 if limit is None else limit  # explicit 0 is honored
            offset = args.pop("offset", None) or 0
            after = args.pop("after", None)
            order_by = args.pop("orderBy", None)
            after_sort = args.pop("afterSort", None)
            if limit < 0 or offset < 0:
                raise gql.GraphQLError("limit/offset must be >= 0")
            if offset and after is not None:
                raise gql.GraphQLError(
                    "offset does not combine with the keyset cursor "
                    "(after): the cursor already names where the page "
                    "starts"
                )
            if limit > MAX_LIMIT:
                # every page path collects `limit` rows driver-side
                # (keyset included), so an uncapped limit is the same
                # OOM lever as an uncapped offset
                raise gql.GraphQLError(
                    f"limit {limit} exceeds the maximum {MAX_LIMIT}; "
                    "page large results with the keyset cursor "
                    "(after/afterSort)"
                )
            if offset > MAX_OFFSET:
                # offset paging collects limit+offset rows to the
                # driver; unbounded, that is a driver-OOM lever any
                # client can pull. Deep pages belong to the keyset
                # cursor, whose cost does not grow with page depth.
                raise gql.GraphQLError(
                    f"offset {offset} exceeds the maximum {MAX_OFFSET}; "
                    "page deep results with the keyset cursor instead "
                    "(after/afterSort, see readMany docs)"
                )
            if order_by is not None and (
                order_by not in model.attributes
                or model.attributes[order_by].is_array
            ):
                raise gql.GraphQLError(
                    f"orderBy must name a scalar attribute of "
                    f"{model.model_name}, got {order_by!r}"
                )
            if after_sort is not None and (order_by is None or after is None):
                raise gql.GraphQLError(
                    "afterSort requires both orderBy and after "
                    "(the composite cursor is (sort value, pk))"
                )
            if order_by is not None and after is not None and after_sort is None:
                raise gql.GraphQLError(
                    "paging an orderBy result needs the composite cursor: "
                    "pass afterSort (last sort value) with after (last pk)"
                )

            def run():
                if after is not None and order_by is None:
                    return self.store.scan_page(
                        model, after, limit, _filter_terms(model, args)
                    )
                df = self.read_many_df(
                    model, args, limit, after, order_by, after_sort
                )
                if after is not None:
                    rows = df.collect()  # keyset page: no skip-slice
                else:
                    # the skip runs IN the plan (TakeOrderedAndProject
                    # with limit=offset+limit, offset=offset): executors
                    # send partial top-(offset+limit) sets, the JVM
                    # driver drops the offset prefix, and this collect
                    # receives page_size rows ALONE — no Python-side
                    # row buffer grows with page depth. Deep pages
                    # still belong to the keyset cursor (MAX_OFFSET
                    # bounds the JVM-transient top-set).
                    rows = df.offset(offset).limit(limit).collect()
                return [add_null_values(r.asDict(), model) for r in rows]

            return self._wrap(run)

        return resolve

    def read_many_df(
        self,
        model: ModelDefinition,
        args: dict,
        limit: int,
        after: Any | None = None,
        order_by: str | None = None,
        after_sort: Any | None = None,
    ):
        """The readMany scan as a DataFrame (exposed so tests can assert
        the physical plan): attribute filters and the keyset cursor both
        compile to pushed-down predicates; the page is pk-ordered — or
        (order_by, pk)-ordered with the composite cursor
        ``(afterSort, after)``, the standard keyset shape for paginating
        a non-unique sort: ``sort > v OR (sort = v AND pk > after)``
        stays a pushed-down predicate, so deep pages under any sort
        order cost the same as page 1.

        When ``after`` is None the caller applies offset slicing itself
        (legacy path) — the returned frame is unlimited in that case.
        The pk keyset branch is the reference that
        ``ParquetStore.scan_page`` is tested against."""
        from pyspark.sql import functions as F

        pk = model.primary_key
        df = self._apply_filters(
            self.store.read_df(model), _filter_terms(model, args)
        )
        if order_by is not None:
            if after_sort is not None:
                sv = _parse_scalar(model.attributes[order_by], after_sort)
                sort_col = F.col(order_by)
                df = df.filter(
                    (sort_col > F.lit(sv))
                    | ((sort_col == F.lit(sv)) & (F.col(pk) > F.lit(after)))
                )
            df = df.orderBy(order_by, pk)
            if after_sort is not None:
                df = df.limit(limit)
        elif after is not None:
            # keyset cursor: pushed range predicate, no skip-scan —
            # page N costs the same as page 1 at any table size
            df = df.filter(F.col(pk) > F.lit(after)).orderBy(pk).limit(limit)
        else:
            df = df.orderBy(pk)
        return df

    @staticmethod
    def _apply_filters(df, terms: list[tuple[str, str, Any]]):
        """Compile ``_filter_terms`` to pushed-down Spark predicates."""
        from pyspark.sql import functions as F

        ops = {
            "eq": lambda c, v: c == F.lit(v),
            "gt": lambda c, v: c > v,
            "gte": lambda c, v: c >= v,
            "lt": lambda c, v: c < v,
            "lte": lambda c, v: c <= v,
            # raw python value: Column.like requires a plain string;
            # comparisons lift literals themselves
            "like": lambda c, v: c.like(v),
        }
        for attr, op, value in terms:
            df = df.filter(ops[op](F.col(attr), value))
        return df

    def _stats(self, model: ModelDefinition):
        """Resolver for `<plural>Stats`: the analytics surface through
        the API — one aggregation plan over the store snapshot (filters
        push into the scan; partial aggregation before the single
        shuffle, or no shuffle at all for the global row)."""

        def resolve(_obj, _info, **args):
            from pyspark.sql import functions as F

            group_by = args.pop("groupBy", None)
            having_min_count = args.pop("havingMinCount", None)
            group_limit = args.pop("groupLimit", None)
            group_limit = (
                MAX_STATS_GROUPS if group_limit is None else group_limit
            )
            after = args.pop("after", None)
            page_size = args.pop("pageSize", None)
            if page_size is not None and not 0 < page_size <= MAX_LIMIT:
                raise gql.GraphQLError(
                    f"pageSize must be in 1..{MAX_LIMIT}"
                )
            if group_by is not None and (
                group_by not in model.attributes
                or model.attributes[group_by].is_array
            ):
                raise gql.GraphQLError(
                    f"groupBy must name a scalar attribute of "
                    f"{model.model_name}, got {group_by!r}"
                )
            if not 0 < group_limit <= MAX_STATS_GROUPS:
                raise gql.GraphQLError(
                    f"groupLimit must be in 1..{MAX_STATS_GROUPS}"
                )

            def run():
                df = self._apply_filters(
                    self.store.read_df(model), _filter_terms(model, args)
                )
                if after is not None or page_size is not None:
                    # aggregate exactly the rows the matching readMany
                    # keyset page returns: pk > after, pk-ordered, next
                    # pageSize rows. The limit compiles to
                    # TakeOrderedAndProject, so the aggregation input
                    # is bounded regardless of table size.
                    pk = model.primary_key
                    if after is not None:
                        df = df.filter(F.col(pk) > F.lit(after))
                    df = df.orderBy(pk).limit(page_size or 100)
                aggs = [F.count("*").alias("count")]
                for n in _numeric_attrs(model):
                    c = camelize(n, upper_first=True)
                    aggs += [
                        F.sum(n).cast("double").alias(f"sum{c}"),
                        F.avg(n).cast("double").alias(f"avg{c}"),
                        F.min(n).cast("double").alias(f"min{c}"),
                        F.max(n).cast("double").alias(f"max{c}"),
                        F.median(n).cast("double").alias(f"median{c}"),
                        F.percentile(n, F.lit(0.25))
                        .cast("double").alias(f"p25{c}"),
                        F.percentile(n, F.lit(0.75))
                        .cast("double").alias(f"p75{c}"),
                        F.percentile(n, F.lit(0.95))
                        .cast("double").alias(f"p95{c}"),
                    ]
                for n in _scalar_attrs(model):
                    aggs.append(
                        F.countDistinct(n).alias(
                            f"distinct{camelize(n, upper_first=True)}"
                        )
                    )
                if group_by is None:
                    rows = df.agg(*aggs).collect()
                    row = rows[0].asDict()
                    # HAVING over the single global group — silently
                    # returning a row the predicate excludes would be
                    # wrong data, not a convenience
                    if (
                        having_min_count is not None
                        and row["count"] < having_min_count
                    ):
                        return []
                    return [{"groupValue": None, **row}]
                grouped = (
                    df.groupBy(F.col(group_by).cast("string").alias("groupValue"))
                    .agg(*aggs)
                )
                if having_min_count is not None:
                    # true HAVING: applied to the aggregated frame
                    # BEFORE collect, so pruned groups never reach the
                    # driver
                    grouped = grouped.filter(
                        F.col("count") >= having_min_count
                    )
                # orderBy+limit compiles to TakeOrderedAndProject:
                # bounded driver transfer at any group cardinality
                rows = grouped.orderBy("groupValue").limit(group_limit)
                return [r.asDict() for r in rows.collect()]

            return self._wrap(run)

        return resolve

    def _add_one(self, model: ModelDefinition):
        def resolve(_obj, _info, **args):
            return self._wrap(lambda: self.store.create_one(model, args))

        return resolve

    def _update_one(self, model: ModelDefinition):
        def resolve(_obj, _info, **args):
            pk = _pk_str(model, args)
            patch = {k: v for k, v in args.items() if k != model.primary_key}
            return self._wrap(lambda: self.store.update_one(model, pk, patch))

        return resolve

    def _delete_one(self, model: ModelDefinition):
        def resolve(_obj, _info, **args):
            return self._wrap(
                lambda: self.store.delete_one(model, _pk_str(model, args))
            )

        return resolve

    def _subscribe_changes(self, model: ModelDefinition):
        """Async source for the subscription field: a ChangeFeed cursor
        anchored at subscribe time; each yielded event is the batch of
        records one commit inserted. An idle poll reads only the local
        manifest pointer (no Spark job)."""

        async def gen(_obj, _info, **args):
            import asyncio

            from gus_spark.api.subscriptions import ChangeFeed

            interval = (args.get("pollIntervalMs") or 50) / 1000.0
            feed = ChangeFeed(self.store, model)
            while True:
                batch = feed.poll()
                if batch:
                    yield batch
                else:
                    await asyncio.sleep(interval)

        return gen

    def subscribe(
        self,
        query: str,
        variables: dict | None = None,
        operation_name: str | None = None,
    ):
        """Run one ``subscription { ... }`` document; returns an async
        iterator of ``{data?, errors?}`` events (await it and iterate
        with ``async for`` — completing graphql.rs:353's todo!())."""
        import asyncio  # noqa: F401  (callers drive the loop)

        return gql.subscribe(self.schema, gql.parse(query),
                             variable_values=variables,
                             operation_name=operation_name)

    @staticmethod
    def _wrap(fn):
        try:
            return fn()
        except GusError as e:  # engine error -> GraphQL error entry
            raise gql.GraphQLError(str(e)) from e

    # -- execution ---------------------------------------------------------
    def execute(
        self,
        query: str,
        variables: dict | None = None,
        operation_name: str | None = None,
    ) -> dict[str, Any]:
        """Run one GraphQL request; returns ``{data?, errors?}`` (the
        GraphQLReturn shape, graphql.rs:118-157)."""
        result = gql.graphql_sync(
            self.schema,
            query,
            variable_values=variables,
            operation_name=operation_name,
        )
        out: dict[str, Any] = {}
        if result.data is not None:
            out["data"] = result.data
        if result.errors:
            out["errors"] = [e.formatted for e in result.errors]
        return out


_FILTER_OPS = ("gt", "gte", "lt", "lte", "like")


def _filter_terms(model: ModelDefinition, args: dict) -> list[tuple]:
    """The readMany/stats filter args as ``(attr, op, value)`` terms,
    the one parse that the Spark compiler (``_apply_filters``) and the
    Arrow one (``ParquetStore.scan_page``) both consume: ``<attr>`` is
    ``eq``, ``<attr>_<op>`` is a range op or ``like`` — unless a real
    attribute literally owns the suffixed name (it keeps equality
    semantics then). A LIKE pattern is checked against Spark's escape
    rule here, so every page shape — keyset, offset, ``orderBy`` and
    ``<plural>Stats`` — reports an invalid one as the same client
    error instead of Spark's raw analysis error at collect."""
    terms = []
    for attr, value in args.items():
        name, _, suffix = attr.rpartition("_")
        if (
            suffix in _FILTER_OPS
            and name in model.attributes
            and attr not in model.attributes
        ):
            if suffix == "like" and value is not None:
                _like_pattern(value)
            terms.append((name, suffix, value))
        else:
            terms.append((attr, "eq", value))
    return terms


def _parse_scalar(attr: AttrType, value: Any) -> Any:
    """Coerce a stringly-typed cursor value to the attribute's type
    (the afterSort arg is String in SDL — one arg serves every sort
    column)."""
    if not isinstance(value, str):
        return value
    if attr.primitive == "Integer":
        return int(value)
    if attr.primitive == "Float":
        return float(value)
    if attr.primitive == "Boolean":
        return value.lower() == "true"
    return value


def _pk_str(model: ModelDefinition, args: dict) -> str:
    import json

    value = args[model.primary_key]
    # parse_uri_id expects the URI-string form (model.rs:110-129)
    return value if isinstance(value, str) else json.dumps(value)
