"""Arrow Flight serving facade over the StreamEngine — wire-protocol
parity with the reference's Flight server (flight/server.go).

Surface parity (SURVEY.md §2 A22-A26):

- ListFlights  → one FlightInfo per schema-bearing stream: descriptor
  path=[topic], ticket=topic, total_records/bytes = -1 (unbounded stream,
  flight/server.go:120-121)
- GetFlightInfo(topic) → same info; unknown topic → gRPC NOT_FOUND, same
  code as the reference (flight/server.go:156-160): the engine's KeyError
  propagates and pyarrow maps it to NOT_FOUND on the wire (clients see
  ArrowKeyError). We do NOT create-on-probe — §2.3.7.
- metadata RPCs (ListFlights/GetFlightInfo/GetSchema) resolve schemas
  WITHOUT touching stream state: no TTL refresh, no request-counter bump
  (the reference bumps LastUpdated only on data reads, GetBatches —
  stream/manager.go:376-386); DoGet keeps the refresh semantics
- GetSchema    → the stream's Arrow schema (flight/server.go:211-230)
- DoGet        → snapshot of the buffered batches as a record stream;
  empty stream OK (flight/server.go:171-208)
- DoAction     → "health" → "OK"; "listTopics" → comma-joined names;
  anything else → NOT_IMPLEMENTED (flight/server.go:233-245). One
  addition: "hwm" → the topic's row offsets (RoarFlightServer)

The data path is Arrow end-to-end and Spark-free: every DoGet streams
the store's cached Arrow snapshot (``snapshot_arrow``, one per store
version) through Flight IPC — the same columnar hand-off the reference
does from its buffered RecordBatches. Optional component: the engine is
fully usable without it (Spark Connect / temp views are the Spark-native
serving path); this exists so a reference Flight CLIENT can point at
this engine instead.
"""

from __future__ import annotations

import json
import threading

import pyarrow as pa
import pyarrow.flight as flight

from roar_spark.streaming.manager import StreamEngine


class RoarFlightServer(flight.FlightServerBase):
    """Serves the engine's streams with rows numbered the way a Kafka log
    numbers them: a store's first retained row has offset
    ``records_dropped`` (monotone: drop-oldest eviction only ever removes
    the front), so a snapshot is offsets ``[first, first + num_rows)`` of
    incarnation ``gen``, a token the store object sets once.

    - ``hwm`` DoAction → ``{"gen", "first", "end"}``: the streaming
      source's per-trigger offset poll (sources/flight.py).
    - A ranged JSON ticket ``{..., "gen", "start", "end"}`` serves the rows
      of ``[max(start, first), min(end, end_now))`` — nothing when ``gen``
      no longer matches, because that incarnation's rows are gone.
    - ``shards > 1`` advertises one endpoint per shard in GetFlightInfo
      (JSON ticket ``{"topic", "shard", "of"}``), the reference's endpoint
      list used as the extension point it is (flight/server.go:95-122). A
      row's shard is ``offset % of``, so a row keeps its shard across
      snapshots and any ``of`` partitions a range.

    Every DoGet, plain or shard, is served from ONE cached Arrow
    materialization per store version — N readers in parallel cost one
    snapshot, not N."""

    def __init__(
        self, engine: StreamEngine, location: str = "grpc://0.0.0.0:0", shards: int = 1
    ) -> None:
        super().__init__(location)
        self._engine = engine
        self._location = location
        self._shards = max(int(shards), 1)
        # set by serve_in_thread; lets shutdown() block until serve()
        # has actually released the listener (see shutdown docstring)
        self._serve_thread: threading.Thread | None = None
        self._serve_error: BaseException | None = None
        # topic → (store identity, store.version, arrow table): one
        # materialization serves the hwm poll + every DoGet of a store
        # version. Keyed on the store OBJECT too — a TTL-revived stream's
        # fresh store restarts version at 0 and must not hit stale cache.
        self._snap_cache: dict = {}

    def shutdown(self, *args, **kwargs):
        """Shut down AND wait for the serve thread to exit. gRPC binds
        listeners with SO_REUSEPORT on Linux, so a caller that does
        ``shutdown()`` then immediately rebinds the same port gets a
        second socket the kernel load-balances against the dying one —
        the new server constructs fine but never receives connections
        (reproduced: rebind-without-join leaves the port connection-
        refused indefinitely). Joining serve() makes ``shutdown()``
        returning mean "the port is free and reusable"."""
        super().shutdown(*args, **kwargs)
        t = self._serve_thread
        if t is not None and t is not threading.current_thread():
            t.join(timeout=10.0)

    # -- helpers -----------------------------------------------------------

    def _arrow_schema(self, topic: str) -> pa.Schema:
        # straight StructType→Arrow conversion: metadata-only, NO engine
        # fetch — listing/describing a stream must not refresh its TTL or
        # bump roar_flight_stream_requests_total (the reference only bumps
        # LastUpdated on data reads, stream/manager.go:376-386)
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self._engine.get_schema(topic))

    def _info(self, topic: str) -> flight.FlightInfo:
        descriptor = flight.FlightDescriptor.for_path(topic)
        location = f"grpc://localhost:{self.port}"
        if self._shards > 1:
            # one endpoint per shard: a partition-aware client (the
            # streaming source) DoGets each in parallel; the locations all
            # point at this server — a multi-node service would list each
            # shard's own host here, with no client change
            endpoints = [
                flight.FlightEndpoint(
                    json.dumps(
                        {"topic": topic, "shard": i, "of": self._shards}
                    ).encode(),
                    [location],
                )
                for i in range(self._shards)
            ]
        else:
            # reference wire parity: plain-topic ticket (server.go:118)
            endpoints = [flight.FlightEndpoint(topic.encode(), [location])]
        return flight.FlightInfo(
            self._arrow_schema(topic), descriptor, endpoints,
            total_records=-1, total_bytes=-1,  # unbounded (server.go:120-121)
        )

    # -- RPC surface -------------------------------------------------------

    def list_flights(self, context, criteria):  # A22
        for topic in self._engine.list_streams():
            try:
                yield self._info(topic)
            except KeyError:
                # expired between the listing and the schema lookup (TTL
                # janitor runs concurrently) — list the survivors instead
                # of failing the whole RPC
                continue

    # Unknown topics: the engine's KeyError propagates UNCAUGHT — pyarrow
    # maps a Python KeyError raised in a server handler to gRPC NOT_FOUND
    # on the wire (clients see ArrowKeyError), matching the reference's
    # codes.NotFound (flight/server.go:156-160). Wrapping it in a
    # FlightError subclass would DOWNGRADE parity: pyarrow exposes no
    # NOT_FOUND FlightError class, only UNAVAILABLE et al.

    @staticmethod
    def _path_topic(descriptor) -> str:
        # CMD descriptors carry path=None — surface the same NOT_FOUND a
        # wrong path gets, not a TypeError-turned-internal-error
        if not descriptor.path:
            raise KeyError("descriptor has no path (command descriptors unsupported)")
        return descriptor.path[0].decode()

    def get_flight_info(self, context, descriptor):  # A23
        return self._info(self._path_topic(descriptor))

    def get_schema(self, context, descriptor):  # A24
        return flight.SchemaResult(self._arrow_schema(self._path_topic(descriptor)))

    # -- serving (see class doc) --------------------------------------------

    def _snapshot_entry(self, topic: str) -> dict:
        """One Arrow materialization per store version (Spark-free —
        MemoryStore concat / ParquetStore pyarrow read), shared by the
        hwm action and every DoGet, plain or shard. Counts as a data
        read: TTL refresh + request counter via engine.touch."""
        try:
            handle = self._engine.touch(topic)
        except KeyError:
            self._snap_cache.pop(topic, None)  # expired: drop the pinned table
            raise
        # prune entries whose topic died WITHOUT a later request for it —
        # the janitor can expire a multi-GB replicated topic that no client
        # ever asks about again, and the KeyError path above would then
        # never fire, pinning its snapshot for the server's lifetime.
        # list_streams is a lock-guarded dict-keys read.
        if len(self._snap_cache) > 1:
            live = set(self._engine.list_streams())
            for dead in [t for t in self._snap_cache if t != topic and t not in live]:
                self._snap_cache.pop(dead, None)
        store = handle.store
        version = store.version  # read BEFORE the snapshot: a concurrent
        # append during materialization caches newer data under the older
        # version, so the next call conservatively re-materializes
        cached = self._snap_cache.get(topic)
        if cached is not None and cached["store"] is store and cached["version"] == version:
            return cached
        first, table = store.snapshot_arrow()
        entry = {"store": store, "version": version, "first": first, "table": table}
        self._snap_cache[topic] = entry
        return entry

    def _snapshot_table(self, topic: str) -> pa.Table:
        return self._snapshot_entry(topic)["table"]

    def _hwm(self, topic: str) -> dict:
        entry = self._snapshot_entry(topic)
        return {
            "gen": entry["store"].gen,
            "first": entry["first"],
            "end": entry["first"] + entry["table"].num_rows,
        }

    @staticmethod
    def _ticket_spec(raw: bytes) -> dict:
        """A DoGet ticket as a spec: a plain topic name (server.go:118), or
        a JSON object ``{"topic", "shard"?, "of"?, "gen"?, "start"?,
        "end"?}``. The ticket comes from the client, so a JSON ticket is
        validated; a ValueError reaches the client as ArrowInvalid."""
        if raw[:1] != b"{":  # a topic named like a JSON object is unsupported
            return {"topic": raw.decode(), "shard": 0, "of": 1}
        spec = json.loads(raw)  # malformed JSON or UTF-8: a ValueError too
        if not isinstance(spec, dict) or not isinstance(spec.get("topic"), str):
            raise ValueError("ticket: a JSON ticket needs a string 'topic'")
        for key in ("shard", "of", "start", "end"):
            if key in spec and type(spec[key]) is not int:
                raise ValueError(f"ticket: {key!r} must be an integer")
        of = spec.setdefault("of", 1)
        shard = spec.setdefault("shard", 0)
        if of < 1 or not 0 <= shard < of:
            raise ValueError(f"ticket: need 0 <= shard < of, got shard={shard}, of={of}")
        if ("start" in spec) != ("end" in spec):
            raise ValueError("ticket: a ranged ticket needs both 'start' and 'end'")
        if "end" in spec:
            if spec["start"] > spec["end"]:
                raise ValueError("ticket: 'start' is past 'end'")
            if not isinstance(spec.get("gen"), str):
                raise ValueError("ticket: a ranged ticket needs a string 'gen'")
        return spec

    def do_get(self, context, ticket):  # A25
        spec = self._ticket_spec(ticket.ticket)
        entry = self._snapshot_entry(spec["topic"])
        table, first = entry["table"], entry["first"]
        lo, hi = first, first + table.num_rows
        if "end" in spec:
            # ranged read: the rows of offsets [start, end) still held. A
            # different gen means the store was re-created: the range's rows
            # are gone with the old incarnation.
            if spec["gen"] != entry["store"].gen:
                hi = lo
            lo, hi = max(spec["start"], lo), min(spec["end"], hi)
        delta = table.slice(lo - first, max(hi - lo, 0))
        of, shard = spec["of"], spec["shard"]
        if of > 1 and delta.num_rows:
            # a row's shard is its offset modulo of
            import numpy as np

            delta = delta.take(np.arange((shard - lo) % of, delta.num_rows, of))
        return flight.RecordBatchStream(delta)

    def do_action(self, context, action):  # A26
        if action.type == "health":
            return [b"OK"]
        if action.type == "listTopics":
            return [",".join(self._engine.list_streams()).encode()]
        if action.type == "hwm":
            # the streaming source's per-trigger offset poll (class doc)
            return [json.dumps(self._hwm(action.body.to_pybytes().decode())).encode()]
        raise NotImplementedError(f"action {action.type!r}")


def serve_in_thread(
    engine: StreamEngine,
    port: int = 0,
    shards: int = 1,
    ready_timeout: float = 15.0,
) -> RoarFlightServer:
    """Start the facade on a daemon thread and block until it is
    ACCEPTING CONNECTIONS; returns the running server (``server.port``
    carries the bound port). ``shards > 1`` advertises a multi-endpoint
    FlightInfo, one streaming-source partition per endpoint.

    The readiness wait is load-bearing product behavior, not a test
    convenience: ``FlightServerBase`` binds the port in its constructor
    but only accepts connections once ``serve()`` is running on the
    thread, so returning right after ``thread.start()`` left a window
    where a prompt client got ``Connection refused`` (~1-in-6 under a
    loaded suite — r10 verdict). We poll the server's own ``health``
    DoAction (A26) until it answers, so "returned" means "a client RPC
    completes", the strongest readiness signal the protocol offers."""
    import time

    server = RoarFlightServer(engine, f"grpc://0.0.0.0:{port}", shards=shards)

    def _run() -> None:
        try:
            server.serve()
        except BaseException as exc:  # noqa: BLE001 — surfaced by the ready loop
            server._serve_error = exc

    thread = threading.Thread(target=_run, daemon=True)
    server._serve_thread = thread
    thread.start()
    deadline = time.monotonic() + ready_timeout
    last_err: BaseException | None = None
    while time.monotonic() < deadline:
        if server._serve_error is not None:
            raise RuntimeError(
                f"Flight facade serve() failed on port {server.port}"
            ) from server._serve_error
        try:
            client = flight.connect(f"grpc://127.0.0.1:{server.port}")
            try:
                list(client.do_action(flight.Action("health", b"")))
                return server
            finally:
                client.close()
        except Exception as exc:  # noqa: BLE001 — not-yet-listening gRPC errors
            last_err = exc
            time.sleep(0.02)
    server.shutdown()
    raise RuntimeError(
        f"Flight facade on port {server.port} did not become ready "
        f"within {ready_timeout}s: {last_err}"
    )


# -- thin client (cmd/client.go parity: list topics, fetch with limit) -----


def list_topics(location: str) -> list[str]:
    client = flight.connect(location)
    try:
        return [info.descriptor.path[0].decode() for info in client.list_flights()]
    finally:
        client.close()


def read_topic(location: str, topic: str, plain_on_sharded: bool = False) -> pa.Table:
    """GetFlightInfo → DoGet → read_all, connection closed — the reference
    client's exact read path (cmd/client.go:121-171), used by the CLI
    client below. Every advertised endpoint is read (Flight's contract:
    the full stream is the union of the endpoints) — identical to the
    reference's single DoGet against its one-endpoint server, and correct
    against a sharded server where endpoints[0] alone would silently serve
    1/N of the rows.

    ``plain_on_sharded`` is the head-of-buffer consumer's mode
    (fetch_topic): against a multi-endpoint server, DoGet the PLAIN-TOPIC
    ticket on this same connection instead of the endpoint list —
    endpoint concat order is shard order, so a positional head slice of
    it would be every ``of``-th row where the reference client returns
    the oldest buffered rows. The endpoint-count probe and the read share
    ONE connection and ONE GetFlightInfo."""
    client = flight.connect(location)
    try:
        info = client.get_flight_info(flight.FlightDescriptor.for_path(topic))
        if plain_on_sharded and len(info.endpoints) > 1:
            return client.do_get(flight.Ticket(topic.encode())).read_all()
        parts = []
        for ep in info.endpoints:
            # honor each endpoint's advertised location (Flight's contract:
            # the ticket is only redeemable where the endpoint says) — a
            # multi-node sharded service lists each shard's own host, and
            # sending every ticket to the GetFlightInfo node would DoGet
            # shards that node doesn't hold (the streaming source does the
            # same via locations[0])
            ep_loc = ep.locations[0].uri.decode() if ep.locations else location
            if ep_loc == location:
                parts.append(client.do_get(ep.ticket).read_all())
            else:
                ep_client = flight.connect(ep_loc)
                try:
                    parts.append(ep_client.do_get(ep.ticket).read_all())
                finally:
                    ep_client.close()
        return parts[0] if len(parts) == 1 else pa.concat_tables(parts)
    finally:
        client.close()


def fetch_topic(location: str, topic: str, limit: int = 10) -> pa.Table:
    """read_topic + client-side row limit (the reference applies the limit
    client-side too, cmd/client.go:193).

    Against a SHARDED server a limited fetch DoGets the PLAIN-TOPIC ticket
    instead of the endpoint list (read_topic's ``plain_on_sharded`` —
    endpoint concat order is shard order, so a head slice of it would be
    every ``of``-th row where the reference client returns the oldest
    buffered rows). The plain ticket streams the
    ENTIRE buffer (the server's cached snapshot of it) to serve a few
    head rows — that is the reference's own client-side-limit semantics
    (the server always streams the full buffer and the client truncates,
    cmd/client.go:193), kept deliberately rather than optimized into a
    server-side limit."""
    limited = limit is not None and limit >= 0
    table = read_topic(location, topic, plain_on_sharded=limited)
    return table.slice(0, limit) if limited else table
