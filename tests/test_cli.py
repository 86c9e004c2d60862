"""CLI tests: rendering parity (NULL display, CSV quoting —
cmd/client.go:174-277) and the client command against a live Flight server."""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

from roar_spark.cli import main, render_csv, render_table

TABLE = pa.table(
    {
        "name": ["plain", None, "has,comma", 'has"quote'],
        "n": [1, 2, None, 4],
    }
)


def test_render_table_nulls_and_alignment():
    out = render_table(TABLE)
    lines = out.splitlines()
    assert lines[0].startswith("name")
    assert "NULL" in out  # nulls display as NULL (client.go:199-201)
    assert "has,comma" in out  # no quoting in table mode


def test_render_csv_quoting():
    out = render_csv(TABLE)
    lines = out.splitlines()
    assert lines[0] == "name,n"
    assert '"has,comma"' in out  # comma cell quoted (client.go:254-256)
    assert '"has""quote"' in out  # quote doubling
    rows = out.splitlines()
    assert rows[2].startswith(",")  # null → empty in CSV (client.go:250-252)


def test_cli_client_end_to_end(spark, tmp_path, capsys):
    from roar_spark.config import EngineConfig
    from roar_spark.sources.files import read_envelope_batch, write_envelope_file
    from roar_spark.streaming.flight_facade import serve_in_thread
    from roar_spark.streaming.manager import StreamEngine

    engine = StreamEngine(spark, EngineConfig())
    engine.register_stream("t", [json.dumps({"n": 1})])
    path = str(tmp_path / "d")
    write_envelope_file(
        path,
        [
            {"key": "a", "value": json.dumps({"n": i}), "timestamp": "2026-08-13T10:00:00Z",
             "offset": i, "partition": 0}
            for i in range(7)
        ],
    )
    engine.append_batch("t", read_envelope_batch(spark, path))
    server = serve_in_thread(engine)
    addr = f"localhost:{server.port}"
    try:
        assert main(["client", "--addr", addr, "--list"]) == 0
        assert capsys.readouterr().out.strip() == "t"
        assert main(["client", "--addr", addr, "--topic", "t", "--limit", "3",
                     "--format", "csv"]) == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert len(out) == 4  # header + 3 rows (default limit honored: client.go:65)
        assert out[0].startswith("kafka_key,")
        assert main(["client", "--addr", addr, "--topic", "t"]) == 0
        assert "kafka_offset" in capsys.readouterr().out
    finally:
        server.shutdown()
        engine.stop()


def test_cli_requires_topic_or_list(capsys):
    assert main(["client", "--addr", "localhost:1"]) == 2


def test_cli_materialize_validates_query_name(capsys, tmp_path):
    """Unknown --query-name fails with a friendly message (not a raw
    KeyError), and --store-dir with --query-name is rejected instead of
    silently ignored."""
    rc = main(
        ["materialize", "--query-name", "no_such_query", "--out", str(tmp_path / "o")]
    )
    err = capsys.readouterr().err
    assert rc == 2
    assert "unknown query name 'no_such_query'" in err
    # fuzzy suggestion: a typo that is NOT a substring of any name still
    # gets a did-you-mean hint
    rc = main(
        ["materialize", "--query-name", "dedup_exct", "--out", str(tmp_path / "o")]
    )
    err = capsys.readouterr().err
    assert rc == 2
    assert "did you mean" in err and "dedup_exact" in err
    rc = main(
        [
            "materialize", "--query-name", "dedup_exact",
            "--store-dir", str(tmp_path),
            "--out", str(tmp_path / "o"),
        ]
    )
    err = capsys.readouterr().err
    assert rc == 2
    assert "--store-dir only applies with --query" in err


def test_last_identifier_handles_qualified_names():
    """The hint extractor must reduce a qualified relation name to its
    bare last identifier: strip('`') only peeled the OUTER backticks, so
    `db`.`tbl` kept inner backticks/dots and the did-you-mean matcher
    silently degraded to the plain view list (r6 ADVICE). Pure function —
    no Spark."""
    from roar_spark.cli import _last_identifier

    assert _last_identifier("lineitm") == "lineitm"
    assert _last_identifier("`lineitm`") == "lineitm"
    assert _last_identifier("`db`.`tbl`") == "tbl"
    assert _last_identifier("spark_catalog.default.lineitm") == "lineitm"
    # dots inside a backticked part belong to the identifier
    assert _last_identifier("`db`.`my.view`") == "my.view"
    # doubled backticks are the escape for a literal backtick
    assert _last_identifier("`we``ird`") == "we`ird"
    assert _last_identifier("") == ""


def test_cli_sql_qualified_unknown_table_still_hints(spark, capsys):
    """A QUALIFIED typo'd name (what Spark reports for db-prefixed
    references) must still produce near-name suggestions against the bare
    registered view names (r6 ADVICE: the hint used to silently degrade)."""
    rc = main(
        [
            "sql",
            "SELECT * FROM spark_catalog.default.lineitm LIMIT 1",
            "--dir",
            "/root/testdata/sf0.001",
        ]
    )
    err = capsys.readouterr().err
    assert rc == 2
    # the message shows what the user TYPED (qualified), while the
    # did-you-mean match runs on the bare last identifier (r7 review:
    # printing only the bare part is misleading when the typo is in the
    # qualifier)
    assert "unknown table or view 'spark_catalog.default.lineitm'" in err
    assert "did you mean" in err and "lineitem" in err


def test_cli_sql_unknown_table_suggests_views(spark, capsys):
    """A typo'd table name in `sql` (and `materialize`, same helper) exits
    2 with did-you-mean suggestions from the registered views instead of a
    raw AnalysisException stack (r5 stretch: table-name errors get the
    same difflib+substring hints the query-name path has)."""
    rc = main(
        ["sql", "SELECT * FROM lineitm LIMIT 1", "--dir", "/root/testdata/sf0.001"]
    )
    err = capsys.readouterr().err
    assert rc == 2
    assert "unknown table or view 'lineitm'" in err
    assert "lineitem" in err
    # non-table analysis errors still propagate untouched
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException):
        main(
            ["sql", "SELECT no_such_col FROM lineitem", "--dir", "/root/testdata/sf0.001"]
        )


def test_cli_sql_over_corpus_and_store(spark, tmp_path, capsys):
    """`roar_spark sql` runs in-engine SQL over the corpus views AND over a
    parquet retention store directory (the served-stream surface) — the
    query path a reference deployment delegates to client-side DuckDB."""
    rc = main(
        [
            "sql",
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
            "GROUP BY l_returnflag ORDER BY l_returnflag",
            "--dir",
            "/root/testdata/sf0.001",
            "--format",
            "csv",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    lines = out.strip().splitlines()
    assert lines[0] == "l_returnflag,n"
    assert len(lines) == 4  # A/N/R

    # store-dir path: one topic directory of parquet batches becomes a view
    store = tmp_path / "store" / "metrics_topic"
    store.mkdir(parents=True)
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(
        str(store / "batch0")
    )
    rc = main(
        [
            "sql",
            "SELECT COUNT(*) AS n FROM metrics_topic",
            "--dir",
            "/root/testdata/sf0.001",
            "--store-dir",
            str(tmp_path / "store"),
            "--format",
            "csv",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert out.strip().splitlines()[1] == "2"


def test_store_views_skip_engine_internal_dirs(spark, tmp_path, capsys):
    """A store produced by `serve` contains _checkpoints/<topic> streaming
    state next to the topic dirs — view registration must skip underscore
    dirs instead of dying on non-parquet checkpoint files."""
    store = tmp_path / "store"
    (store / "_checkpoints" / "t1").mkdir(parents=True)
    (store / "_checkpoints" / "t1" / "offsets").write_text("v1\n{}")
    topic = store / "t1" / "batch0"
    topic.parent.mkdir(parents=True)
    spark.createDataFrame([(1,)], "id long").write.parquet(str(topic))
    # a live sink's in-flight staging dir INSIDE the topic dir: its
    # uncommitted rows must not be visible to sql/materialize
    spark.createDataFrame([(777,)], "id long").write.parquet(
        str(store / "t1" / "_staging-abc-0")
    )
    rc = main(
        [
            "sql",
            "SELECT COUNT(*) AS n FROM t1",
            "--dir", "/root/testdata/sf0.001",
            "--store-dir", str(store),
            "--format", "csv",
        ]
    )
    assert rc == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == "1"


def test_cli_bucketed_routes_same_dir_as_views(monkeypatch, capsys):
    """r5 review: `sql --bucketed` with no --dir/env used to bucket the
    materialize default (sf0.1) while the views read the catalog default
    (sf0.001) — the routing key never matched and the flag silently did
    nothing. Pin: the directory handed to enable_bucketed_catalog resolves
    to the SAME corpus the views are registered from."""
    import roar_spark.catalog as catalog
    import roar_spark.session as session

    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    seen = {}
    monkeypatch.setattr(
        catalog,
        "enable_bucketed_catalog",
        lambda spark, directory=None, **kw: seen.__setitem__(
            "bucketed", directory or catalog.sf_dir()
        ),
    )
    monkeypatch.setattr(catalog, "disable_bucketed_catalog", lambda: None)
    monkeypatch.setattr(
        catalog,
        "register_views",
        lambda spark, directory=None: seen.__setitem__(
            "views", directory or catalog.sf_dir()
        ),
    )

    class _FakeDF:
        columns = ["x"]

        def limit(self, n):
            return self

        def collect(self):
            return []

    class _FakeSpark:
        def sql(self, q):
            return _FakeDF()

    monkeypatch.setattr(session, "get_spark", lambda app_name=None: _FakeSpark())
    rc = main(["sql", "SELECT 1 AS x", "--bucketed"])
    assert rc == 0
    capsys.readouterr()
    assert seen["bucketed"] == seen["views"]


def test_serve_requires_some_source(capsys):
    """serve with no source flag exits 2 and names all three options."""
    assert main(["serve"]) == 2
    assert "--source-flight" in capsys.readouterr().err


def test_serve_sharded_flags_wire_through(spark, tmp_path):
    """`serve --shards N` serves multi-endpoint FlightInfo, and the
    `--source-flight` branch replicates from it with no reader flag, one
    partition per endpoint (wiring level, like the test below; the full
    e2e lives in test_flight_sharded.py). The removed reader switch is
    refused as an unknown flag."""
    import json as _json

    import pyarrow.flight as flight

    from roar_spark.config import EngineConfig
    from roar_spark.sources.files import read_envelope_batch, write_envelope_file
    from roar_spark.sources.flight import ingest_from_flight
    from roar_spark.streaming.flight_facade import serve_in_thread
    from roar_spark.streaming.manager import StreamEngine

    up = StreamEngine(spark, EngineConfig())
    up.register_stream("clicks", [_json.dumps({"n": 1})])
    src = str(tmp_path / "data")
    write_envelope_file(
        src,
        [{"key": f"k{i}", "value": _json.dumps({"n": i}),
          "timestamp": "2026-08-13T10:00:00Z", "offset": i, "partition": 0}
         for i in range(8)],
    )
    up.append_batch("clicks", read_envelope_batch(spark, src))
    server = serve_in_thread(up, shards=3)  # cmd_serve(shards=args.shards)
    loc = f"grpc://localhost:{server.port}"
    client = flight.connect(loc)
    info = client.get_flight_info(flight.FlightDescriptor.for_path("clicks"))
    assert len(info.endpoints) == 3

    down = StreamEngine(
        spark, EngineConfig(flush_interval_seconds=1,
                            checkpoint_path=str(tmp_path / "ckpt"))
    )
    handle = None
    try:
        # the --source-flight branch of cmd_serve
        handle = ingest_from_flight(down, "clicks", loc)
        handle.query.processAllAvailable()
        assert sorted(r.n for r in down.fetch("clicks", -1).collect()) == list(range(8))
    finally:
        if handle is not None and handle.query is not None:
            handle.query.stop()
        down.stop()
        server.shutdown()
        up.stop()
    with pytest.raises(SystemExit):
        main(["serve", "--source-flight", loc, "--source-flight-sharded"])


def test_serve_source_flight_replicates_upstream(spark, tmp_path):
    """`serve --source-flight` consumes an upstream engine's served streams
    through the Flight source (the CLI face of ingest_from_flight). Tested
    at the wiring level: upstream serves a stream, the flag path registers
    the replica and starts its query (we invoke the branch directly —
    cmd_serve itself blocks on server.wait())."""
    import json as _json

    from roar_spark.config import EngineConfig
    from roar_spark.sources.files import read_envelope_batch, write_envelope_file
    from roar_spark.sources.flight import ingest_from_flight
    from roar_spark.streaming.flight_facade import list_topics, serve_in_thread
    from roar_spark.streaming.manager import StreamEngine

    up = StreamEngine(spark, EngineConfig())
    up.register_stream("clicks", [_json.dumps({"n": 1})])
    src = str(tmp_path / "data")
    write_envelope_file(
        src,
        [{"key": "k0", "value": _json.dumps({"n": 7}),
          "timestamp": "2026-08-13T10:00:00Z", "offset": 0, "partition": 0}],
    )
    up.append_batch("clicks", read_envelope_batch(spark, src))
    server = serve_in_thread(up)
    loc = f"grpc://localhost:{server.port}"

    # the cmd_serve branch: topics default to the upstream's full listing
    down = StreamEngine(
        spark, EngineConfig(flush_interval_seconds=1,
                            checkpoint_path=str(tmp_path / "ckpt"))
    )
    try:
        for topic in list_topics(loc):
            handle = ingest_from_flight(down, topic, loc)
        handle.query.processAllAvailable()
        assert [r.n for r in down.fetch("clicks", -1).collect()] == [7]
    finally:
        if handle.query is not None:
            handle.query.stop()
        down.stop()
        server.shutdown()
        up.stop()
