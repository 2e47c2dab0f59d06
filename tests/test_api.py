"""API-shell tests — port the reference's HTTP integration matrix
(src/cli/server.rs:272-464) and GraphQL behaviors (selection order,
aliases, fragments, __typename, introspection; graphql.rs tests)."""

import json

import pytest
from pyspark.sql import functions as F

from gus_spark.api.graphql import GraphQLApi, generate_sdl
from gus_spark.api.rest import RestApi
from gus_spark.model.registry import ModelRegistry
from gus_spark.model.types import ModelDefinition
from gus_spark.storage.parquet_store import ParquetStore

MOVIE = {
    "model_name": "movie",
    "attributes": {
        "id": "String",
        "name": "String",
        "year": "Integer",
        "actors": ["String"],
        "recommended": "Boolean",
    },
    "primary_key": "id",
    "required": ["id"],
}


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    registry = ModelRegistry()
    registry.register(ModelDefinition.from_json(MOVIE))
    store = ParquetStore(
        spark, str(tmp_path_factory.mktemp("api") / "warehouse")
    )
    gql_api = GraphQLApi(registry, store)
    rest = RestApi(registry, store, graphql_api=gql_api)
    # seed like server.rs:287-298
    rest.handle("POST", "/api/rest/movie", json.dumps({"id": "get"}))
    rest.handle("POST", "/api/rest/movie", json.dumps({"id": "put"}))
    rest.handle("POST", "/api/rest/movie", json.dumps({"id": "delete"}))
    return rest


def test_sdl_shape(api):
    sdl = generate_sdl(api.registry)
    assert "type Movie {" in sdl
    # pk first, then alphabetical (graphql.rs:207-216)
    body = sdl.split("type Movie {", 1)[1].split("}", 1)[0]
    names = [line.strip().split(":")[0] for line in body.strip().splitlines()]
    assert names == ["id", "actors", "name", "recommended", "year"]
    assert "readOneMovie(id: String!): Movie" in sdl
    assert "addOneMovie" in sdl and "deleteOneMovie" in sdl


# --- REST matrix (server.rs:304-463) ---------------------------------------
def test_rest_get(api):
    status, payload = api.handle("GET", "/api/rest/movie/get")
    assert status == 200
    assert payload["data"]["id"] == "get"
    assert payload["data"]["year"] is None  # null-padded full schema


def test_rest_get_invalid(api):
    assert api.handle("GET", "/api/rest/movie/nope")[0] == 400
    assert api.handle("GET", "/api/rest/movies/get")[0] == 400  # plural
    assert api.handle("GET", "/api/rest/movie")[0] == 400
    assert api.handle("GET", "/elsewhere")[0] == 400


def test_rest_post_and_duplicate(api):
    status, payload = api.handle(
        "POST", "/api/rest/movie", json.dumps({"id": "new", "year": 2000})
    )
    assert status == 201 and payload["data"]["year"] == 2000
    status, payload = api.handle(
        "POST", "/api/rest/movie", json.dumps({"id": "new"})
    )
    assert status == 400 and "error" in payload


def test_rest_post_invalid_body(api):
    assert api.handle("POST", "/api/rest/movie", "not json")[0] == 400
    assert api.handle(
        "POST", "/api/rest/movie", json.dumps({"id": "x", "zzz": 1})
    )[0] == 400


def test_rest_put_patch(api):
    status, payload = api.handle(
        "PUT", "/api/rest/movie/put", json.dumps({"year": 1999})
    )
    assert status == 200 and payload["data"]["year"] == 1999
    # pk in body ignored ("id doesn't matter", server.rs:393-398)
    status, payload = api.handle(
        "PUT", "/api/rest/movie/put", json.dumps({"id": "other", "year": 1998})
    )
    assert status == 200 and payload["data"]["id"] == "put"
    assert api.handle("PUT", "/api/rest/movie/ghost", "{}")[0] == 400


def test_rest_delete(api):
    status, payload = api.handle("DELETE", "/api/rest/movie/delete")
    assert status == 200 and payload["data"]["id"] == "delete"
    assert api.handle("DELETE", "/api/rest/movie/delete")[0] == 400


# --- GraphQL ---------------------------------------------------------------
def test_graphql_read_with_alias_fragment_typename(api):
    status, payload = api.handle(
        "POST",
        "/api/graphql",
        json.dumps(
            {
                "query": """
                query {
                  m: readOneMovie(id: "get") {
                    __typename
                    theId: id
                    ...rest
                  }
                }
                fragment rest on Movie { year recommended }
                """
            }
        ),
    )
    assert status == 200, payload
    m = payload["data"]["m"]
    # selection order preserved incl. alias + fragment expansion
    assert list(m) == ["__typename", "theId", "year", "recommended"]
    assert m["__typename"] == "Movie" and m["theId"] == "get"


def test_graphql_mutations_roundtrip(api):
    q = """
    mutation {
      addOneMovie(id: "gql", year: 2024) { id year }
    }
    """
    status, payload = api.handle("POST", "/api/graphql", json.dumps({"query": q}))
    assert status == 200, payload
    assert payload["data"]["addOneMovie"] == {"id": "gql", "year": 2024}
    q2 = 'mutation { updateOneMovie(id: "gql", year: 2025) { year } }'
    _, p2 = api.handle("POST", "/api/graphql", json.dumps({"query": q2}))
    assert p2["data"]["updateOneMovie"]["year"] == 2025
    q3 = 'mutation { deleteOneMovie(id: "gql") { id } }'
    _, p3 = api.handle("POST", "/api/graphql", json.dumps({"query": q3}))
    assert p3["data"]["deleteOneMovie"]["id"] == "gql"


def test_graphql_variables(api):
    """The reference parses but never substitutes variables
    (graphql.rs:164) — the engine completes them."""
    q = "query($id: String!) { readOneMovie(id: $id) { id } }"
    status, payload = api.handle(
        "POST",
        "/api/graphql",
        json.dumps({"query": q, "variables": {"id": "get"}}),
    )
    assert status == 200 and payload["data"]["readOneMovie"]["id"] == "get"


def test_graphql_errors(api):
    status, payload = api.handle(
        "POST", "/api/graphql", json.dumps({"query": "{ nope }"})
    )
    assert status == 400 and payload["errors"]
    status, payload = api.handle(
        "POST",
        "/api/graphql",
        json.dumps({"query": '{ readOneMovie(id: "ghost") { id } }'}),
    )
    # partial success: data with null + errors (graphql.rs:403-412)
    assert payload.get("errors")


def test_graphql_introspection(api):
    q = '{ __type(name: "Movie") { name fields { name } } }'
    status, payload = api.handle("POST", "/api/graphql", json.dumps({"query": q}))
    assert status == 200
    t = payload["data"]["__type"]
    assert t["name"] == "Movie"
    assert {f["name"] for f in t["fields"]} == {
        "id", "actors", "name", "recommended", "year"
    }


def test_http_server_roundtrip(api):
    """Drive the stdlib HTTP server end-to-end on a real socket."""
    import threading
    import urllib.request

    from gus_spark.api.rest import serve

    server = serve(api, port=0)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/rest/movie/get"
        ) as resp:
            assert resp.status == 200
            assert json.loads(resp.read())["data"]["id"] == "get"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/graphql",
            data=json.dumps(
                {"query": '{ readOneMovie(id: "get") { id } }'}
            ).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert json.loads(resp.read())["data"]["readOneMovie"]["id"] == "get"
    finally:
        server.shutdown()


def test_graphql_read_many(api):
    """The completed readMany (the reference's graphql.rs:382 todo!())."""
    q = '{ movies(limit: 2) { id } }'
    status, payload = api.handle("POST", "/api/graphql", json.dumps({"query": q}))
    assert status == 200, payload
    rows = payload["data"]["movies"]
    assert len(rows) == 2
    assert rows == sorted(rows, key=lambda r: r["id"])  # pk-ordered pages
    # offset pagination
    q2 = '{ movies(limit: 1, offset: 1) { id } }'
    _, p2 = api.handle("POST", "/api/graphql", json.dumps({"query": q2}))
    assert p2["data"]["movies"][0]["id"] == rows[1]["id"]
    # equality filter on an attribute
    q3 = '{ movies(id: "get") { id year } }'
    _, p3 = api.handle("POST", "/api/graphql", json.dumps({"query": q3}))
    assert [r["id"] for r in p3["data"]["movies"]] == ["get"]


def test_graphql_read_many_operators(api):
    """Range and LIKE operators in the readMany where-grammar."""
    # seed rows with years exist from prior tests; add two known ones
    api.handle("POST", "/api/rest/movie",
               json.dumps({"id": "y1", "year": 1950}))
    api.handle("POST", "/api/rest/movie",
               json.dumps({"id": "y2", "year": 2020}))
    q = '{ movies(year_gte: 2000, limit: 50) { id year } }'
    _, p = api.handle("POST", "/api/graphql", json.dumps({"query": q}))
    rows = p["data"]["movies"]
    assert all(r["year"] >= 2000 for r in rows)
    assert "y2" in {r["id"] for r in rows} and "y1" not in {r["id"] for r in rows}
    q2 = '{ movies(id_like: "y%", limit: 50) { id } }'
    _, p2 = api.handle("POST", "/api/graphql", json.dumps({"query": q2}))
    assert {r["id"] for r in p2["data"]["movies"]} == {"y1", "y2"}
    # unknown arg is a validation error, not a silent scan
    q3 = '{ movies(bogus: 1) { id } }'
    status, p3 = api.handle("POST", "/api/graphql", json.dumps({"query": q3}))
    assert status == 400 and p3["errors"]


def test_graphql_limit_zero_and_negative(api):
    """An explicit limit: 0 means zero rows — not the default page."""
    q = "{ movies(limit: 0) { id } }"
    status, payload = api.handle("POST", "/api/graphql", json.dumps({"query": q}))
    assert status == 200, payload
    assert payload["data"]["movies"] == []
    status, payload = api.handle(
        "POST", "/api/graphql", json.dumps({"query": "{ movies(limit: -1) { id } }"})
    )
    assert payload.get("errors")


def test_graphql_offset_is_capped(api):
    """offset paging collects limit+offset rows driver-side, so depth
    is capped; the error names the keyset alternative. The cap itself
    (offset == MAX_OFFSET) still works."""
    from gus_spark.api.graphql import MAX_OFFSET

    q = f"{{ movies(limit: 1, offset: {MAX_OFFSET + 1}) {{ id }} }}"
    _, payload = api.handle("POST", "/api/graphql", json.dumps({"query": q}))
    assert payload.get("errors")
    assert "keyset" in payload["errors"][0]["message"]
    q_ok = f"{{ movies(limit: 1, offset: {MAX_OFFSET}) {{ id }} }}"
    _, payload = api.handle("POST", "/api/graphql", json.dumps({"query": q_ok}))
    assert not payload.get("errors")
    assert payload["data"]["movies"] == []  # past the tiny fixture table

    # limit is the same driver-OOM lever: capped too, keyset included
    from gus_spark.api.graphql import MAX_LIMIT

    q_big = f"{{ movies(limit: {MAX_LIMIT + 1}) {{ id }} }}"
    _, payload = api.handle("POST", "/api/graphql", json.dumps({"query": q_big}))
    assert payload.get("errors")
    assert "keyset" in payload["errors"][0]["message"]


def test_graphql_offset_with_cursor_is_an_error(spark, tmp_path):
    """offset and the keyset cursor do not combine: the offset was
    dropped silently before (ids 1 and 2 came back here)."""
    registry = ModelRegistry()
    model = ModelDefinition.from_json(
        {"model_name": "item", "attributes": {"id": "Integer"},
         "primary_key": "id", "required": ["id"]}
    )
    registry.register(model)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [{"id": i} for i in range(10)])
    gapi = GraphQLApi(registry, store)
    out = gapi.execute("{ items(limit: 2, after: 0, offset: 5) { id } }")
    assert out["errors"] and "offset" in out["errors"][0]["message"]
    assert out["data"]["items"] is None
    out = gapi.execute("{ items(limit: 2, after: 0, offset: 0) { id } }")
    assert out["data"]["items"] == [{"id": 1}, {"id": 2}]


def test_graphql_keyset_pagination(api):
    """`after` cursor: page 2 = rows with pk > last-seen, pk-ordered,
    and the cursor compiles to a scan-pushed range predicate (the only
    pagination that stays O(page) at any table size)."""
    q = "{ movies(limit: 2) { id } }"
    _, p1 = api.handle("POST", "/api/graphql", json.dumps({"query": q}))
    page1 = [r["id"] for r in p1["data"]["movies"]]
    cursor = page1[-1]
    q2 = f'{{ movies(limit: 2, after: "{cursor}") {{ id }} }}'
    _, p2 = api.handle("POST", "/api/graphql", json.dumps({"query": q2}))
    page2 = [r["id"] for r in p2["data"]["movies"]]
    assert page2 and all(i > cursor for i in page2)
    assert not set(page1) & set(page2)
    # offset twin returns the same rows (cross-check)
    q3 = "{ movies(limit: 2, offset: 2) { id } }"
    _, p3 = api.handle("POST", "/api/graphql", json.dumps({"query": q3}))
    assert [r["id"] for r in p3["data"]["movies"]] == page2


def test_keyset_predicate_reaches_scan(api):
    """The page-2 plan pushes `pk > cursor` into the parquet scan and
    contains no offset-collect — the VERDICT's keyset 'done' gate."""
    import contextlib
    import io

    model = next(iter(api.registry))
    gql_api = api.graphql_api
    df = gql_api.read_many_df(model, {}, limit=2, after="get")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "GreaterThan(id,get)" in pushed.replace(" ", "").replace(
        "IsNotNull(id),", ""
    )


def test_operator_suffix_attribute_collision(spark, tmp_path):
    """An attribute literally named `score_gt` owns its name: SDL emits
    it once (no duplicate argument -> build_schema survives) and
    filtering on it is equality, not a range op on sibling `score`."""
    registry = ModelRegistry()
    registry.register(
        ModelDefinition.from_json(
            {
                "model_name": "player",
                "attributes": {
                    "id": "String",
                    "score": "Integer",
                    "score_gt": "Integer",
                },
                "primary_key": "id",
                "required": ["id"],
            }
        )
    )
    store = ParquetStore(spark, str(tmp_path / "warehouse"))
    gql_api = GraphQLApi(registry, store)  # duplicate args would raise here
    sdl = generate_sdl(registry)
    plural_line = next(
        line for line in sdl.splitlines() if line.strip().startswith("players(")
    )
    assert plural_line.count("score_gt:") == 1
    model = next(iter(registry))
    store.create_many(
        model,
        [
            {"id": "a", "score": 10, "score_gt": 1},
            {"id": "b", "score": 1, "score_gt": 10},
        ],
    )
    r = gql_api.execute("{ players(score_gt: 10) { id } }")
    # equality on the attribute itself: only 'b' has score_gt == 10;
    # a range-op misread would instead return rows with score > 10
    assert [row["id"] for row in r["data"]["players"]] == ["b"]


def test_subscription_sdl_shape(api):
    sdl = generate_sdl(api.registry)
    assert "type Subscription {" in sdl
    assert "movies(pollIntervalMs: Int): [Movie!]!" in sdl


def test_subscription_delivers_insert(api):
    """Insert during an open subscription -> event delivered (completes
    the reference's graphql.rs:353 todo!() surface end-to-end)."""
    import asyncio

    gql_api = api.graphql_api

    async def run():
        sub = await gql_api.subscribe(
            "subscription { movies(pollIntervalMs: 20) { id year } }"
        )
        assert hasattr(sub, "__aiter__"), sub  # not an immediate error

        async def first_event():
            async for ev in sub:
                return ev

        task = asyncio.ensure_future(first_event())
        await asyncio.sleep(0.1)  # feed anchored; no event yet
        assert not task.done()
        # insert through the REST surface while the subscription is open
        await asyncio.get_event_loop().run_in_executor(
            None,
            lambda: api.handle(
                "POST", "/api/rest/movie",
                json.dumps({"id": "sub-live", "year": 2031}),
            ),
        )
        event = await asyncio.wait_for(task, timeout=30)
        await sub.aclose()
        return event

    event = asyncio.run(run())
    assert event.errors is None, event.errors
    batch = event.data["movies"]
    assert {"id": "sub-live", "year": 2031} in [
        {"id": r["id"], "year": r["year"]} for r in batch
    ]


def test_change_feed_cursor(spark, tmp_path):
    """ChangeFeed yields exactly the inserted records per commit, reads
    only the new delta files, and an idle poll is manifest-only."""
    from gus_spark.api.subscriptions import ChangeFeed
    from gus_spark.model.types import ModelDefinition

    model = ModelDefinition.from_json(MOVIE)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [{"id": "a"}, {"id": "b"}])
    feed = ChangeFeed(store, model)
    assert feed.poll() == []  # anchored after the first commit
    store.create_many(model, [{"id": "c"}, {"id": "d"}])
    got = feed.poll()
    assert [r["id"] for r in got] == ["c", "d"]
    assert feed.poll() == []
    # two commits between polls -> both batches' records arrive
    store.create_one(model, {"id": "e"})
    store.create_one(model, {"id": "f"})
    assert {r["id"] for r in feed.poll()} == {"e", "f"}


def test_change_feed_insert_commits_skip_anti_join(spark, tmp_path,
                                                   monkeypatch):
    """After a bulk ingest (an 'insert' commit), a poll must scan ONLY
    the new delta files: no previous-snapshot read, no pk anti-join —
    and delivery is paged with a bounded keyset cursor."""
    from gus_spark.api.subscriptions import ChangeFeed
    from gus_spark.model.types import ModelDefinition

    model = ModelDefinition.from_json(
        {
            "model_name": "click",
            "attributes": {"id": "Integer", "v": "Integer"},
            "primary_key": "id",
            "required": ["id"],
        }
    )
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [{"id": 0, "v": 0}])
    feed = ChangeFeed(store, model, page_size=1000)
    assert feed.poll() == []

    n = 100_000
    df = spark.range(1, n + 1).select(
        F.col("id").cast("long"), F.col("id").cast("long").alias("v")
    )
    # keys_are_new=True is what bulk_ingest passes after PROVING
    # newness (ids 1..n vs existing id 0 here) — it is what makes this
    # an op='insert' commit eligible for the fast path at all
    assert store.append_df(model, df, keys_are_new=True) == n

    # the pure-insert path must never look at the previous snapshot
    def _boom(self):
        raise AssertionError("anti-join path used for a pure-insert delta")

    monkeypatch.setattr(ChangeFeed, "_previous_keys", _boom)
    page = feed.poll()
    assert len(page) == 1000 and [r["id"] for r in page] == list(range(1, 1001))
    page2 = feed.poll()  # keyset continues, snapshot cursor not advanced yet
    assert [r["id"] for r in page2] == list(range(1001, 2001))
    # drain the rest; every page is bounded and nothing repeats
    seen = 2000
    while True:
        p = feed.poll()
        if not p:
            break
        assert len(p) <= 1000
        assert p[0]["id"] == seen + 1
        seen += len(p)
    assert seen == n
    assert feed.poll() == []  # drained -> idle polls are manifest-only


def test_change_feed_unproven_append_keeps_anti_join(spark, tmp_path):
    """append_df WITHOUT keys_are_new commits op='append': the feed
    must keep its conservative anti-join, so re-appended existing pks
    are suppressed instead of re-delivered as inserts (the regression
    an untrusted 'insert' tag would cause)."""
    from gus_spark.api.subscriptions import ChangeFeed
    from gus_spark.model.types import ModelDefinition

    model = ModelDefinition.from_json(MOVIE)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [{"id": "a"}, {"id": "b"}])
    feed = ChangeFeed(store, model)
    assert feed.poll() == []

    dup = store.spark.createDataFrame(
        [{"id": "a"}, {"id": "z"}], store.read_df(model).schema
    )
    store.append_df(model, dup)  # default: key-newness unproven
    got = feed.poll()
    assert [r["id"] for r in got] == ["z"]  # 'a' suppressed, not re-sent
    assert feed.poll() == []


def test_change_feed_rewrite_fallback_prunes_by_pk_range(spark, tmp_path):
    """A point update against a compacted (range-partitioned) table
    must anti-join O(1) previous files, not the whole snapshot: the
    manifest pk-range stats prune every non-overlapping file."""
    from gus_spark.api.subscriptions import ChangeFeed
    from gus_spark.model.types import ModelDefinition

    model = ModelDefinition.from_json(
        {
            "model_name": "click",
            "attributes": {"id": "Integer", "v": "Integer"},
            "primary_key": "id",
            "required": ["id"],
        }
    )
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [{"id": i, "v": i} for i in range(100)])
    store.compact(model, target_files=4)  # disjoint pk ranges
    feed = ChangeFeed(store, model)
    assert feed.poll() == []

    store.update_one(model, "5", {"v": -1})  # rewrite commit, one file
    got = feed.poll()
    assert got == []  # an update inserts nothing new
    # ...but the anti-join only read the ONE overlapping previous file
    assert feed.last_anti_files == 1
    # inserts mixed into the rewrite range still arrive
    store.create_one(model, {"id": 101, "v": 0})
    assert [r["id"] for r in feed.poll()] == [101]


def test_change_feed_layout_commits_are_free(spark, tmp_path, monkeypatch):
    """A compaction rewrites every file but inserts nothing: the feed
    must advance past it without reading any data file."""
    from gus_spark.api.subscriptions import ChangeFeed
    from gus_spark.model.types import ModelDefinition

    model = ModelDefinition.from_json(MOVIE)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [{"id": "a"}, {"id": "b"}])
    store.create_many(model, [{"id": "c"}])
    feed = ChangeFeed(store, model)
    assert feed.poll() == []
    store.compact(model)
    monkeypatch.setattr(
        ChangeFeed,
        "_next_page",
        lambda self: (_ for _ in ()).throw(
            AssertionError("layout-only delta triggered a data scan")
        ),
    )
    assert feed.poll() == []
    # and records landing AFTER the compaction still arrive exactly once
    monkeypatch.undo()
    store.create_one(model, {"id": "d"})
    assert [r["id"] for r in feed.poll()] == ["d"]


def test_static_view_surface(api):
    """GET / serves the embedded model browser, GET /api/graphql the
    query console, /robots.txt and /view/* the asset map (the
    reference's server.rs:88-116 routing) — API routes untouched."""
    import threading
    import urllib.request

    from gus_spark.api.rest import serve
    from gus_spark.api.view import get_view_file

    assert get_view_file("/")[1].startswith("text/html")
    assert get_view_file("/robots.txt")[0].startswith(b"User-agent")
    assert get_view_file("/view/index.html") is not None
    assert get_view_file("/view/ghost.js") is None
    assert get_view_file("/api/rest/movie/get") is None  # API passthrough

    server = serve(api, port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/") as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/html")
            assert b"gus_spark" in resp.read()
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/graphql"
        ) as resp:  # GET -> console page; POST still executes queries
            assert b"GraphQL console" in resp.read()
        # the JSON API still wins for non-view paths
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/rest/movie/get"
        ) as resp:
            assert json.loads(resp.read())["data"]["id"] == "get"
    finally:
        server.shutdown()


def test_graphql_stats_aggregate_surface(spark, tmp_path_factory):
    """`<plural>Stats`: grouped and global aggregations through the
    API, sharing the readMany filter grammar; invalid groupBy is a
    GraphQL error, not a Spark failure."""
    registry = ModelRegistry()
    registry.register(ModelDefinition.from_json(MOVIE))
    store = ParquetStore(
        spark, str(tmp_path_factory.mktemp("stats") / "warehouse")
    )
    gapi = GraphQLApi(registry, store)
    store.create_many(
        registry.get("movie"),
        [
            {"id": "a", "year": 1990, "recommended": True},
            {"id": "b", "year": 2000, "recommended": True},
            {"id": "c", "year": 2010, "recommended": False},
        ],
    )

    out = gapi.execute(
        "{ moviesStats { groupValue count avgYear minYear medianYear "
        "distinctRecommended } }"
    )
    assert "errors" not in out, out
    assert out["data"]["moviesStats"] == [
        {"groupValue": None, "count": 3, "avgYear": 2000.0,
         "minYear": 1990.0, "medianYear": 2000.0, "distinctRecommended": 2}
    ]

    out = gapi.execute(
        '{ moviesStats(groupBy: "recommended", year_gte: 2000) '
        "{ groupValue count maxYear } }"
    )
    assert "errors" not in out, out
    assert out["data"]["moviesStats"] == [
        {"groupValue": "false", "count": 1, "maxYear": 2010.0},
        {"groupValue": "true", "count": 1, "maxYear": 2000.0},
    ]

    out = gapi.execute('{ moviesStats(groupBy: "actors") { count } }')
    assert out["errors"]
    out = gapi.execute('{ moviesStats(groupBy: "nope") { count } }')
    assert out["errors"]

    # percentiles: exact interpolated percentile over [1990, 2000, 2010]
    out = gapi.execute("{ moviesStats { p25Year p75Year p95Year } }")
    assert "errors" not in out, out
    assert out["data"]["moviesStats"] == [
        {"p25Year": 1995.0, "p75Year": 2005.0, "p95Year": 2009.0}
    ]

    # havingMinCount is a real HAVING: groups pruned before collect
    out = gapi.execute(
        '{ moviesStats(groupBy: "recommended", havingMinCount: 2) '
        "{ groupValue count } }"
    )
    assert "errors" not in out, out
    assert out["data"]["moviesStats"] == [
        {"groupValue": "true", "count": 2}
    ]

    # ...and it applies to the GLOBAL row too, not only grouped calls
    out = gapi.execute("{ moviesStats(havingMinCount: 1000) { count } }")
    assert "errors" not in out, out
    assert out["data"]["moviesStats"] == []
    out = gapi.execute("{ moviesStats(havingMinCount: 3) { count } }")
    assert out["data"]["moviesStats"] == [{"count": 3}]

    # groupLimit bounds the driver transfer; out-of-range is an error
    out = gapi.execute(
        '{ moviesStats(groupBy: "id", groupLimit: 2) { groupValue } }'
    )
    assert "errors" not in out, out
    assert [g["groupValue"] for g in out["data"]["moviesStats"]] == ["a", "b"]
    out = gapi.execute(
        '{ moviesStats(groupBy: "id", groupLimit: 999999) { groupValue } }'
    )
    assert out["errors"]

    # stats over a keyset page: aggregate exactly the rows the matching
    # readMany page (after="a", pageSize=2) would return -> b and c
    out = gapi.execute(
        '{ moviesStats(after: "a", pageSize: 2) '
        "{ count minYear maxYear } }"
    )
    assert "errors" not in out, out
    assert out["data"]["moviesStats"] == [
        {"count": 2, "minYear": 2000.0, "maxYear": 2010.0}
    ]
    # pageSize alone = stats of page 1
    out = gapi.execute("{ moviesStats(pageSize: 1) { count maxYear } }")
    assert out["data"]["moviesStats"] == [{"count": 1, "maxYear": 1990.0}]
    out = gapi.execute("{ moviesStats(pageSize: 0) { count } }")
    assert out["errors"]


def test_graphql_composite_keyset_pagination(spark, tmp_path_factory):
    """Paginating a NON-unique sort order with the composite
    (afterSort, after) cursor: pages tile the (year, id)-sorted order
    exactly — including across duplicate years — and the cursor
    compiles to a pushed-down predicate. Ambiguous cursor combos are
    GraphQL errors."""
    registry = ModelRegistry()
    registry.register(ModelDefinition.from_json(MOVIE))
    store = ParquetStore(
        spark, str(tmp_path_factory.mktemp("cursor") / "warehouse")
    )
    gapi = GraphQLApi(registry, store)
    model = registry.get("movie")
    store.create_many(
        model,
        [
            {"id": "a", "year": 2000},
            {"id": "b", "year": 1990},
            {"id": "c", "year": 2000},
            {"id": "d", "year": 1990},
            {"id": "e", "year": 2010},
        ],
    )
    expected = [("b", 1990), ("d", 1990), ("a", 2000), ("c", 2000),
                ("e", 2010)]

    pages, cursor = [], None
    while True:
        if cursor is None:
            q = '{ movies(limit: 2, orderBy: "year") { id year } }'
        else:
            q = (
                f'{{ movies(limit: 2, orderBy: "year", '
                f'afterSort: "{cursor[1]}", after: "{cursor[0]}") '
                "{ id year } }"
            )
        out = gapi.execute(q)
        assert "errors" not in out, out
        rows = out["data"]["movies"]
        if not rows:
            break
        pages.extend((r["id"], r["year"]) for r in rows)
        cursor = (rows[-1]["id"], rows[-1]["year"])
    assert pages == expected

    # the composite predicate reaches the plan
    df = gapi.read_many_df(model, {}, 2, after="d", order_by="year",
                           after_sort="1990")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "year" in plan and "1990" in plan

    # ambiguous cursors are errors, not silent full scans
    out = gapi.execute('{ movies(orderBy: "year", after: "a") { id } }')
    assert out["errors"]
    out = gapi.execute('{ movies(afterSort: "1990") { id } }')
    assert out["errors"]
    out = gapi.execute('{ movies(orderBy: "actors") { id } }')
    assert out["errors"]


def test_composite_cursor_tiles_exactly_under_heavy_duplicates(
    spark, tmp_path_factory
):
    """Pagination safety property: for a sort column where nearly every
    value is duplicated (3 distinct years over 30 rows), walking pages
    of several sizes must reproduce the exact (year, id) order with no
    gaps, duplicates, or early termination."""
    registry = ModelRegistry()
    registry.register(ModelDefinition.from_json(MOVIE))
    store = ParquetStore(
        spark, str(tmp_path_factory.mktemp("tile") / "warehouse")
    )
    gapi = GraphQLApi(registry, store)
    rows = [
        {"id": f"r{i:02d}", "year": 1990 + (i * 7) % 3} for i in range(30)
    ]
    store.create_many(registry.get("movie"), rows)
    expected = sorted((r["year"], r["id"]) for r in rows)

    for page_size in (1, 2, 3, 7, 30, 50):
        walked, cursor = [], None
        for _ in range(100):  # hard stop against infinite loops
            if cursor is None:
                q = (
                    f'{{ movies(limit: {page_size}, orderBy: "year") '
                    "{ id year } }"
                )
            else:
                q = (
                    f'{{ movies(limit: {page_size}, orderBy: "year", '
                    f'afterSort: "{cursor[0]}", after: "{cursor[1]}") '
                    "{ id year } }"
                )
            out = gapi.execute(q)
            assert "errors" not in out, out
            page = out["data"]["movies"]
            if not page:
                break
            assert len(page) <= page_size
            walked.extend((r["year"], r["id"]) for r in page)
            cursor = (page[-1]["year"], page[-1]["id"])
        assert walked == expected, f"page_size={page_size}"


def test_integers_outside_i64_are_client_errors(spark, tmp_path):
    """types.rs:46-47: Integer is i64. An out-of-range value is a
    validation error (REST 400, GraphQL error), not a JVM or Arrow
    exception escaping the handler."""
    registry = ModelRegistry()
    registry.register(
        ModelDefinition.from_json(
            {
                "model_name": "item",
                "attributes": {"id": "Integer", "year": "Integer",
                               "counts": ["Integer"]},
                "primary_key": "id",
                "required": ["id"],
            }
        )
    )
    store = ParquetStore(spark, str(tmp_path / "warehouse"))
    rest = RestApi(registry, store, graphql_api=GraphQLApi(registry, store))
    for body in ({"id": 2**63}, {"id": 1, "year": -(2**63) - 1},
                 {"id": 1, "counts": [0, 2**63]}):
        status, payload = rest.handle("POST", "/api/rest/item", json.dumps(body))
        assert status == 400 and "i64" in payload["error"], payload
    assert rest.handle("GET", f"/api/rest/item/{2**63}")[0] == 400
    assert rest.handle("POST", "/api/rest/item", json.dumps({"id": 1}))[0] == 201
    status, payload = rest.handle(
        "PUT", "/api/rest/item/1", json.dumps({"year": 2**64})
    )
    assert status == 400 and "i64" in payload["error"], payload
    for q in (
        f"mutation {{ addOneItem(id: {2**63}) {{ id }} }}",
        f"mutation {{ updateOneItem(id: 1, year: {-(2**63) - 1}) {{ id }} }}",
    ):
        status, payload = rest.handle(
            "POST", "/api/graphql", json.dumps({"query": q})
        )
        assert status == 400 and payload["errors"], payload
    assert rest.handle("GET", "/api/rest/item/1")[1]["data"]["year"] is None
