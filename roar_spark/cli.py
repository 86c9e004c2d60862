"""CLI: ``roar_spark serve`` / ``roar_spark client`` — flag parity with the
reference's cobra commands (cmd/serve.go:207-227, cmd/client.go:58-66).

serve: starts the ingest engine (real Kafka via --brokers/--topics, or the
file-simulated source via --source-dir), the Arrow Flight facade, and an
optional /metrics endpoint serving Prometheus text exposition.

client: list topics / fetch one topic with a row limit, rendered as an
aligned table or CSV — including the reference's display conventions
(cmd/client.go:174-277): nulls print as "NULL" in tables and empty in CSV,
CSV cells containing commas/quotes/newlines are quoted with doubled quotes.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import re
import sys
import threading

import pyarrow as pa

# --- rendering (cmd/client.go:174-277 parity) -----------------------------


def _cell(value: object, for_csv: bool) -> str:
    if value is None:
        return "" if for_csv else "NULL"  # client.go:199-201 / 250-252
    if isinstance(value, bytes):
        return value.hex()
    return str(value)


def render_table(table: pa.Table, limit: int | None = None) -> str:
    """Aligned text table (outputAsTable parity)."""
    rows = table.slice(0, limit).to_pylist() if limit is not None else table.to_pylist()
    cols = table.schema.names
    cells = [[_cell(r[c], False) for c in cols] for r in rows]
    widths = [max([len(c)] + [len(row[i]) for row in cells]) for i, c in enumerate(cols)]
    lines = [
        " | ".join(c.ljust(w) for c, w in zip(cols, widths)),
        "-+-".join("-" * w for w in widths),
    ]
    lines += [" | ".join(v.ljust(w) for v, w in zip(row, widths)) for row in cells]
    return "\n".join(lines)


def render_csv(table: pa.Table, limit: int | None = None) -> str:
    """CSV with the reference's quoting (outputAsCSV, client.go:254-256:
    quote when the cell contains a comma; standard doubling for quotes)."""
    rows = table.slice(0, limit).to_pylist() if limit is not None else table.to_pylist()
    cols = table.schema.names

    def q(v: str) -> str:
        if any(ch in v for ch in (",", '"', "\n")):
            return '"' + v.replace('"', '""') + '"'
        return v

    lines = [",".join(q(c) for c in cols)]
    lines += [",".join(q(_cell(r[c], True)) for c in cols) for r in rows]
    return "\n".join(lines)


# --- commands -------------------------------------------------------------


def cmd_serve(args: argparse.Namespace) -> int:
    from roar_spark.config import EngineConfig
    from roar_spark.metrics import REGISTRY, attach
    from roar_spark.session import get_spark
    from roar_spark.streaming.flight_facade import serve_in_thread
    from roar_spark.streaming.manager import StreamEngine

    spark = get_spark(app_name="roar_spark_serve")
    config = EngineConfig(
        brokers=args.brokers,
        topics=tuple(args.topics.split(",")) if args.topics else (),
        batch_size=args.batch_size,
        ttl_seconds=args.ttl,
        buffer_limit_bytes=args.buffer_limit,
    )
    engine = StreamEngine(spark, config, store_base=args.store_dir)
    attach(spark)

    if args.source_flight:
        # engine-to-engine replication: consume another engine's served
        # streams over the Arrow-Flight source (sources/flight.py). Topics
        # default to everything the upstream serves.
        from roar_spark.sources.flight import ingest_from_flight
        from roar_spark.streaming.flight_facade import list_topics

        topics = list(config.topics) or list_topics(args.source_flight)
        if not topics:
            print("serve: upstream serves no topics", file=sys.stderr)
            return 2
        for topic in topics:
            ingest_from_flight(engine, topic, args.source_flight)
    elif args.source_dir:
        from roar_spark.sources.files import file_envelope_stream, read_envelope_batch

        topic = args.topics or "files"
        sample = [
            r.value
            for r in read_envelope_batch(spark, args.source_dir).limit(10).collect()
            if r.value is not None
        ]
        engine.ingest(topic, file_envelope_stream(spark, args.source_dir), sample)
    elif config.topics:
        if args.schema_registry:
            # the reference stores this URL and never dials it
            # (kafka/consumer.go:103, decode TODO :660-661); here it
            # resolves each --avro-topics topic's latest reader schema and
            # registers the Avro converter for it (Confluent subject
            # convention: "<topic>-value")
            from roar_spark.schema_registry_http import HttpSchemaRegistry
            from roar_spark.streaming.avro import avro_converter

            from roar_spark.streaming.proto import proto_converter

            registry = HttpSchemaRegistry(args.schema_registry)
            proto_topics = {
                t.strip() for t in args.proto_topics.split(",") if t.strip()
            }
            avro_topics = (
                {t.strip() for t in args.avro_topics.split(",") if t.strip()}
                or set(config.topics) - proto_topics
            )
            for topic in proto_topics & set(config.topics):
                _, reader_file = registry.latest(f"{topic}-value")
                conv, schema = proto_converter(reader_file)
                engine.register_converter(topic, conv, schema)
            for topic in (avro_topics - proto_topics) & set(config.topics):
                _, reader = registry.latest(f"{topic}-value")
                conv, schema = avro_converter(registry.schemas_by_id(), reader)
                engine.register_converter(topic, conv, schema)
        if args.kafka_wire:
            # pure-Python wire-protocol source (sources/kafka_python.py):
            # same option map, same envelope — no connector jar needed
            from roar_spark.sources.kafka_python import kafka_python_envelope_stream

            envelope_stream = kafka_python_envelope_stream
        else:
            from roar_spark.sources.kafka import kafka_envelope_stream

            envelope_stream = kafka_envelope_stream
        for topic in config.topics:
            env = envelope_stream(spark, config, (topic,)).drop("topic")
            # no sample → schema bootstrap deferred to the first non-empty
            # micro-batch's real payloads (a placeholder sample here would
            # freeze a payload-less schema and drop every field forever)
            engine.ingest(topic, env)
    else:
        print("serve: need --source-flight, --source-dir or --topics", file=sys.stderr)
        return 2

    server = serve_in_thread(engine, args.port, shards=args.shards)
    print(f"flight: grpc://localhost:{server.port}")

    if args.metrics_port:
        from http.server import BaseHTTPRequestHandler, HTTPServer

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                body = REGISTRY.exposition().encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4")
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        httpd = HTTPServer(("0.0.0.0", args.metrics_port), Handler)
        threading.Thread(target=httpd.serve_forever, daemon=True).start()
        print(f"metrics: http://localhost:{args.metrics_port}/metrics")

    try:
        server.wait()  # blocks like flightServer.Serve (cmd/serve.go:140)
    except KeyboardInterrupt:
        engine.stop()
    return 0


def cmd_client(args: argparse.Namespace) -> int:
    from roar_spark.streaming.flight_facade import fetch_topic, list_topics

    location = f"grpc://{args.addr}"
    if args.list:
        for t in list_topics(location):
            print(t)
        return 0
    if not args.topic:
        print("client: need --topic or --list", file=sys.stderr)
        return 2
    table = fetch_topic(location, args.topic, limit=args.limit)
    render = render_csv if args.format == "csv" else render_table
    print(render(table))
    return 0


def _corpus_dir(args: argparse.Namespace) -> str:
    """One place for the corpus-dir default: --dir flag, else
    $SPARK_GRAFT_SF_DIR, else the sf0.1 testdata."""
    import os

    return args.dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _register_store_views(spark, store_dir: str) -> None:
    """Expose every served topic's retained parquet batches under
    ``store_dir`` as ``<topic>`` temp views (shared by sql/materialize)."""
    import os

    for topic in sorted(os.listdir(store_dir)):
        # skip engine-internal dirs (streaming checkpoints live under
        # _checkpoints/<topic> in the same store base — not topic data)
        if topic.startswith("_"):
            continue
        path = os.path.join(store_dir, topic)
        if os.path.isdir(path):
            # recursive lookup, NOT the "{path}/*" glob: the glob promoted
            # a live sink's transient _staging-* dir to a root input path,
            # bypassing Spark's underscore/dot hidden-file filtering and
            # transiently exposing uncommitted rows. recursiveFileLookup
            # keeps the hidden-file filter, reads both store layouts
            # (ParquetStore batch_id=N/ subdirs and the sink's flat files),
            # and disables partition inference so batch_id= dir names do
            # not leak in as a column.
            spark.read.option("recursiveFileLookup", "true").parquet(
                path
            ).createOrReplaceTempView(topic)


def _suggest_names(missing: str, candidates) -> str:
    """Did-you-mean hint text: union of substring and difflib matches.
    Both rules are needed — 'dedup_exct' needs fuzzy to reach
    'dedup_exact', while a short prefix like 'knn' scores ~0.24 against
    'embedding_knn_classify' and only the substring rule can suggest it
    (r5 review). One shared policy for query names and table names so the
    two cannot drift (r6 review)."""
    import difflib

    names = sorted(candidates)
    sub = [n for n in names if missing and missing in n]
    fuzzy = difflib.get_close_matches(missing, names, n=5, cutoff=0.6)
    close = ", ".join(dict.fromkeys([*sub[:5], *fuzzy]))
    return f" (did you mean: {close}?)" if close else ""


def _last_identifier(relation: str) -> str:
    """Bare last identifier of a possibly-qualified relation name as Spark
    renders it in error parameters: ``db``.``tbl`` → tbl,
    spark_catalog.default.t → t. A plain strip('`') only removes the OUTER
    backticks, so a qualified name kept inner backticks and dots and the
    did-you-mean matcher silently found nothing (r6 review). Dots inside a
    backticked part belong to the identifier, not the qualifier; doubled
    backticks are the escape for a literal one."""
    parts = re.findall(r"`((?:[^`]|``)*)`|([^.`]+)", relation)
    idents = [quoted if quoted else bare for quoted, bare in parts]
    return (idents[-1] if idents else relation).replace("``", "`")


def _sql_with_table_hints(spark, query: str, prog: str):
    """``spark.sql`` with unknown-table errors turned into actionable
    hints: suggests near view names from the views actually registered in
    this command's session. Returns the DataFrame, or None after printing
    the hint (caller exits 2). Non-table analysis errors propagate
    untouched."""
    from pyspark.errors import AnalysisException

    try:
        return spark.sql(query)
    except AnalysisException as exc:
        cond = (
            exc.getCondition() if hasattr(exc, "getCondition") else exc.getErrorClass()
        ) or ""
        if not cond.startswith("TABLE_OR_VIEW_NOT_FOUND"):
            raise
        raw = (exc.getMessageParameters() or {}).get("relationName", "")
        # match on the bare last identifier, but PRINT what the user
        # typed: when the typo is in the qualifier (`default2`.`lineitem`)
        # naming only the correct part would be actively misleading
        # (r7 review)
        missing = _last_identifier(raw)
        shown = raw.replace("`", "") or missing
        views = sorted(t.name for t in spark.catalog.listTables())
        print(
            f"{prog}: unknown table or view {shown!r}"
            f"{_suggest_names(missing, views)}; "
            f"registered views: {', '.join(views)}",
            file=sys.stderr,
        )
        return None


def cmd_sql(args: argparse.Namespace) -> int:
    """In-engine SQL over the corpus tables (and, with --store-dir, over
    served streams): the query surface a reference deployment delegates
    to a client-side DuckDB (art/article.md:88-90), run on Spark instead.
    Views are registered via catalog.register_views, so the same Catalyst
    pushdown/pruning applies as in the registry queries."""
    import pyarrow as pa

    from roar_spark.catalog import register_views
    from roar_spark.session import get_spark

    spark = get_spark(app_name="roar_spark_sql")
    with _bucketed_mode(spark, args, args.dir or None):
        register_views(spark, args.dir or None)
        if args.store_dir:
            _register_store_views(spark, args.store_dir)
        df = _sql_with_table_hints(spark, args.query, "sql")
        if df is None:
            return 2
        rows = df.limit(args.limit).collect() if args.limit else df.collect()
    # dict-of-columns keeps headers and column order even for 0 rows
    table = pa.table({c: [r[c] for r in rows] for c in df.columns})
    render = render_csv if args.format == "csv" else render_table
    print(render(table))
    return 0


@contextlib.contextmanager
def _bucketed_mode(spark, args: argparse.Namespace, directory: str | None):
    """Context manager applying --bucketed: materialize (once — idempotent)
    and route orderkey-joined tables through their bucketed managed copies
    (catalog.enable_bucketed_catalog), so the orders⋈lineitem / groupBy
    orderkey shuffle disappears from every query this command runs.
    ``directory`` MUST be the same corpus dir the wrapped block reads
    (None = catalog default): routing is keyed on (directory, table), so a
    mismatch would materialize one corpus and silently query another. The
    routing is scoped to the command so an in-process caller (tests,
    notebooks driving main()) doesn't inherit the mode; the managed copies
    persist in the warehouse for the next --bucketed run to reuse."""
    from roar_spark.catalog import (
        disable_bucketed_catalog,
        enable_bucketed_catalog,
    )

    if getattr(args, "bucketed", False):
        # enable INSIDE the guarded region: a failure halfway through
        # materializing the managed copies (disk full on the second
        # saveAsTable) must not leave _bucketed_tables partially
        # populated for the rest of the process (r5 review)
        try:
            enable_bucketed_catalog(spark, directory)
            yield
        finally:
            disable_bucketed_catalog()
    else:
        yield


def cmd_materialize(args: argparse.Namespace) -> int:
    """Run a SQL query (or a named registry query) over the corpus and
    write the result as a content-stable sharded parquet dataset +
    manifest — the batch materialization step of a curation pipeline
    (operators/writer.py). The in-memory result never routes through the
    driver; only the O(n_shards) manifest counts do."""
    from roar_spark.catalog import register_views
    from roar_spark.operators.writer import write_sharded_dataset
    from roar_spark.session import get_spark

    if args.query_name:
        from roar_spark.registry import QUERIES

        if args.query_name not in QUERIES:
            print(
                f"materialize: unknown query name {args.query_name!r}"
                f"{_suggest_names(args.query_name, QUERIES)}; "
                "see roar_spark.registry.QUERIES",
                file=sys.stderr,
            )
            return 2
        if args.store_dir:
            # registry queries read the corpus dir directly — a store-dir
            # would be silently ignored; reject instead
            print(
                "materialize: --store-dir only applies with --query "
                "(registry queries read the corpus dir)",
                file=sys.stderr,
            )
            return 2
    spark = get_spark(app_name="roar_spark_materialize")
    # resolve the corpus dir ONCE and hand the same value to the bucketed
    # routing and the query — two per-branch defaults desynchronizing is
    # the exact bug test_cli_bucketed_routes_same_dir_as_views pins
    directory = _corpus_dir(args) if args.query_name else (args.dir or None)
    with _bucketed_mode(spark, args, directory):
        if args.query_name:
            df = QUERIES[args.query_name](spark, directory)
        else:
            register_views(spark, directory)
            if args.store_dir:
                _register_store_views(spark, args.store_dir)
            df = _sql_with_table_hints(spark, args.query, "materialize")
            if df is None:
                return 2
        manifest = write_sharded_dataset(
            df, args.out, key_col=args.key, n_shards=args.shards
        )
    import json

    print(json.dumps(manifest, sort_keys=True))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="roar_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    serve = sub.add_parser("serve", help="run the ingest engine + Flight server")
    serve.add_argument("--brokers", default="localhost:9092")  # serve.go:211
    serve.add_argument("--topics", default="")  # serve.go:212
    serve.add_argument("--batch-size", type=int, default=1024)  # serve.go:214
    serve.add_argument("--ttl", type=float, default=60.0)  # serve.go:215
    serve.add_argument("--buffer-limit", type=int, default=100 * 1024 * 1024)  # serve.go:216
    serve.add_argument("--port", type=int, default=8080)  # serve.go:217
    serve.add_argument("--metrics-port", type=int, default=0)  # serve.go:221
    serve.add_argument("--source-dir", default="", help="file-simulated source dir")
    serve.add_argument(
        "--source-flight", default="",
        help="upstream Flight server (grpc://host:port) to replicate from",
    )
    serve.add_argument(
        "--kafka-wire", action="store_true",
        help="read --topics through the pure-Python Kafka wire source "
        "(no spark-sql-kafka jar required) instead of format('kafka')",
    )
    serve.add_argument(
        "--schema-registry", default="",
        help="schema registry URL; Avro-decodes --avro-topics payloads "
        "via each topic's '<topic>-value' latest schema (the reference "
        "stores this flag without consuming it — kafka/consumer.go:103)",
    )
    serve.add_argument(
        "--avro-topics", default="",
        help="csv of topics to Avro-decode via --schema-registry "
        "(default: all --topics not claimed by --proto-topics)",
    )
    serve.add_argument(
        "--proto-topics", default="",
        help="csv of topics to Protobuf-decode via --schema-registry "
        "(subject '<topic>-value' must hold a PROTOBUF schema)",
    )
    serve.add_argument(
        "--shards", type=int, default=1,
        help="endpoints per topic in this server's FlightInfo (>1 lets a "
        "--source-flight consumer DoGet shards in parallel; 1 = reference parity)",
    )
    serve.add_argument("--store-dir", default="", help="parquet retention store dir")
    serve.set_defaults(fn=cmd_serve)

    client = sub.add_parser("client", help="list topics / fetch a topic")
    client.add_argument("--addr", default="localhost:8080")  # client.go:60
    client.add_argument("--topic", default="")  # client.go:63
    client.add_argument("--limit", type=int, default=10)  # client.go:65
    client.add_argument("--format", choices=["table", "csv"], default="table")  # client.go:64
    client.add_argument("--list", action="store_true")
    client.set_defaults(fn=cmd_client)

    sql = sub.add_parser("sql", help="run SQL over corpus tables / served streams")
    sql.add_argument("query")
    sql.add_argument("--dir", default="", help="corpus dir (default $SPARK_GRAFT_SF_DIR)")
    sql.add_argument("--store-dir", default="", help="parquet retention store to expose as views")
    sql.add_argument("--limit", type=int, default=0, help="truncate output rows (0 = all)")
    sql.add_argument("--format", choices=["table", "csv"], default="table")
    sql.add_argument(
        "--bucketed",
        action="store_true",
        help="serve orders/lineitem from orderkey-bucketed managed copies "
        "(materialized on first use) — removes the orderkey shuffle",
    )
    sql.set_defaults(fn=cmd_sql)

    mat = sub.add_parser(
        "materialize", help="write a query result as sharded parquet + manifest"
    )
    grp = mat.add_mutually_exclusive_group(required=True)
    grp.add_argument("--query", default="", help="SQL over the corpus views")
    grp.add_argument("--query-name", default="", help="named registry query")
    mat.add_argument("--out", required=True, help="output dataset directory")
    mat.add_argument("--key", default="doc_id", help="content key column for sharding")
    mat.add_argument("--shards", type=int, default=16)
    mat.add_argument("--dir", default="", help="corpus dir (default $SPARK_GRAFT_SF_DIR)")
    mat.add_argument(
        "--store-dir", default="", help="parquet retention store to expose as views"
    )
    mat.add_argument(
        "--bucketed",
        action="store_true",
        help="serve orders/lineitem from orderkey-bucketed managed copies "
        "(materialized on first use) — removes the orderkey shuffle",
    )
    mat.set_defaults(fn=cmd_materialize)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
