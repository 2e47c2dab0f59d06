"""CLI arg-validation tests (ports cli/index.rs:115-179 behaviors)."""

import json

from gus_spark.cli import build_app, build_parser, validate


def _args(tmp_path, **over):
    models = tmp_path / "models"
    models.mkdir(exist_ok=True)
    base = ["server", "-m", str(models)]
    for k, v in over.items():
        base += [f"--{k}", str(v)]
    return build_parser().parse_args(base)


def test_valid_args(tmp_path):
    assert validate(_args(tmp_path)) is None


def test_port_bounds(tmp_path):
    assert validate(_args(tmp_path, port=0)) is not None
    assert validate(_args(tmp_path, port=70000)) is not None
    assert validate(_args(tmp_path, port=8081)) is None


def test_missing_models_dir(tmp_path):
    args = build_parser().parse_args(["server", "-m", str(tmp_path / "nope")])
    assert "not a directory" in validate(args)


def test_build_app_loads_models(spark, tmp_path):
    models = tmp_path / "models"
    models.mkdir()
    (models / "movie.json").write_text(
        json.dumps(
            {
                "model_name": "movie",
                "attributes": {"id": "Integer", "name": "String"},
                "primary_key": "id",
                "required": ["id"],
            }
        )
    )
    args = build_parser().parse_args(
        ["server", "-m", str(models), "-w", str(tmp_path / "wh")]
    )
    registry, store, api = build_app(args)
    assert registry.names() == ["movie"]
    status, payload = api.handle(
        "POST", "/api/rest/movie", json.dumps({"id": 1, "name": "x"})
    )
    assert status == 201, payload
    assert api.handle("GET", "/api/rest/movie/1")[0] == 200


def _scripted(answers):
    """input_fn replaying canned answers (the dialoguer test double)."""
    it = iter(answers)

    def input_fn(prompt):
        return next(it)

    return input_fn


def test_create_model_wizard_roundtrip(spark, tmp_path):
    """Wizard output -> registry load -> CRUD (the VERDICT 'done' gate).
    Mirrors the reference dialogue flow model_cli.rs:36-205 including
    the constraint step that completes its placeholder."""
    from gus_spark.model_cli import create_model
    from gus_spark.model.registry import ModelRegistry
    from gus_spark.storage.parquet_store import ParquetStore
    from gus_spark.errors import RecordValidationError

    models = tmp_path / "models"
    models.mkdir()
    # flow: id (Integer), title (String + max_length), tags (Array)
    answers = [
        "song", "parquet",
        "id", "Integer", "",                 # attr 1, no constraints
        "y",                                  # add another
        "title", "String", "max_length=64", "",  # attr 2 + constraint
        "y",                                  # add another
        "tags", "Array", "String", "",        # attr 3 (array, not pk-able)
        "n",                                  # stop
        "id",                                 # Primary Key
        "title",                              # required multi-select
    ]
    model = create_model(str(models), input_fn=_scripted(answers))
    assert model.model_name == "song"
    assert (models / "song.json").exists()

    registry = ModelRegistry(str(models))
    assert registry.names() == ["song"]
    loaded = registry.get("song")
    assert loaded.primary_key == "id"
    assert set(loaded.required) == {"id", "title"}
    assert loaded.attributes["tags"].is_array
    assert loaded.constraints == {"title": {"max_length": 64}}

    store = ParquetStore(spark, str(tmp_path / "wh"))
    created = store.create_one(
        loaded, {"id": 1, "title": "x", "tags": ["a"]}
    )
    assert created["id"] == 1
    assert store.read_one(loaded, "1")["title"] == "x"
    # the wizard-declared constraint is enforced on the CRUD path
    try:
        store.create_one(loaded, {"id": 2, "title": "y" * 100})
        raise AssertionError("constraint not enforced")
    except RecordValidationError:
        pass


def test_configure_storages_roundtrip(tmp_path):
    """Dialogue -> config file -> server picks up the warehouse dir
    (json_cli.rs PathValidator semantics included)."""
    from gus_spark.model_cli import configure_storages, load_storage_config

    cfg_path = tmp_path / "storages.json"
    wh = tmp_path / "wh"
    answers = [
        "parquet", str(wh),
        "y",                                 # configure another
        "json", str(tmp_path / "data.json"),
        "n",
    ]
    config = configure_storages(str(cfg_path), input_fn=_scripted(answers))
    assert config["parquet"] == {"warehouse_dir": str(wh)}
    assert config["json"] == {"storage_file": str(tmp_path / "data.json")}
    assert load_storage_config(str(cfg_path)) == config
    # re-running updates, keeping unrelated entries
    again = configure_storages(
        str(cfg_path),
        input_fn=_scripted(["parquet", str(tmp_path / "wh2"), "n"]),
    )
    assert again["json"] == {"storage_file": str(tmp_path / "data.json")}
    assert again["parquet"] == {"warehouse_dir": str(tmp_path / "wh2")}


def test_configure_storages_path_validation(tmp_path, capsys):
    """Invalid paths re-prompt (a directory / missing parent are
    rejected, json_cli.rs:27-43)."""
    from gus_spark.model_cli import configure_storages

    d = tmp_path / "somedir"
    d.mkdir()
    answers = [
        "json",
        str(d),                          # a directory -> rejected
        str(tmp_path / "ghost" / "f"),   # parent missing -> rejected
        str(tmp_path / "ok.json"),       # accepted
        "n",
    ]
    config = configure_storages(
        str(tmp_path / "cfg.json"), input_fn=_scripted(answers)
    )
    assert config["json"] == {"storage_file": str(tmp_path / "ok.json")}


def test_server_uses_storage_definitions_warehouse(spark, tmp_path):
    models = tmp_path / "models"
    models.mkdir()
    (models / "movie.json").write_text(
        json.dumps(
            {
                "model_name": "movie",
                "attributes": {"id": "Integer"},
                "primary_key": "id",
                "required": ["id"],
            }
        )
    )
    wh = tmp_path / "from_config"
    (tmp_path / "storages.json").write_text(
        json.dumps({"parquet": {"warehouse_dir": str(wh)}})
    )
    args = build_parser().parse_args(
        ["server", "-m", str(models), "-s", str(tmp_path / "storages.json")]
    )
    _registry, store, _api = build_app(args)
    assert store.warehouse == str(wh)


def test_maintain_command_reports_and_compacts(spark, tmp_path, capsys):
    """`gus_spark maintain`: churn a table, run the command, and the
    printed JSON report shows a compaction; a second run is a healthy
    no-op."""
    from gus_spark.cli import main
    from gus_spark.model.registry import ModelRegistry
    from gus_spark.storage.parquet_store import ParquetStore

    models = tmp_path / "models"
    models.mkdir()
    (models / "movie.json").write_text(
        json.dumps(
            {
                "model_name": "movie",
                "attributes": {"id": "Integer", "name": "String"},
                "primary_key": "id",
                "required": ["id"],
            }
        )
    )
    wh = str(tmp_path / "wh")
    registry = ModelRegistry(str(models))
    store = ParquetStore(spark, wh)
    for first in range(1, 6):  # interleaved batches: one file each
        store.create_many(
            registry.get("movie"),
            [{"id": i, "name": f"m{i}"} for i in range(first, 21, 5)],
        )
    store.update_one(registry.get("movie"), "10", {"name": "x"})

    # churn left >4 delta files; a max-files threshold of 4 must
    # trigger compaction (overlap alone is layout-dependent here)
    assert main(["maintain", "-m", str(models), "-w", wh,
                 "--max-files", "4"]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["model"] == "movie" and report["compacted"] is True
    assert report["n_files"] > 4

    assert main(["maintain", "-m", str(models), "-w", wh,
                 "--max-files", "4"]) == 0
    report2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report2["compacted"] is False
    assert main(["maintain", "-m", str(models), "-w", wh,
                 "--model", "ghost"]) == 2
