"""Batched-async fetch seam: the concurrent driver must (a) produce results
IDENTICAL to sequential driving of the same sans-IO state machines, and (b)
actually overlap I/O waits inside one task (wall-clock << sum of latencies).

The transport here is a latency-injecting fake that answers from the
deterministic fabric — so correctness is checked against the real fabric
semantics, and the injected latency isolates the overlap property from CPU
noise.  The real-network AsyncioTransport reuses the exact same
``drive_scans_concurrent`` driver.
"""

from __future__ import annotations

import asyncio
import time

from httpz_spark.config import ScanConfig
from httpz_spark.operators.fetch import scan_row_gen
from httpz_spark.sources import fabric as FB
from httpz_spark.sources.transport import (
    TransportError,
    drive_scan_sync,
    drive_scans_concurrent,
)

WORLD = FB.FabricConfig(n_images=256, n_hosts=64).with_certs()


class LatencyFakeTransport:
    """Fabric-backed transport whose every request sleeps ``delay_s`` on the
    event loop before answering — sync facade + async facade over the same
    deterministic responses."""

    def __init__(self, delay_s: float = 0.05):
        self.delay_s = delay_s
        self._fabric = FB.FabricTransport(WORLD)
        self.n_requests = 0
        self.in_flight = 0
        self.max_in_flight = 0

    # sync contract (drive_scan_sync)
    def fetch(self, url, protocol, **kw):
        self.n_requests += 1
        return self._fabric.fetch(url, protocol, **kw)

    # async contract (drive_scans_concurrent)
    async def fetch_async(self, url, protocol, **kw):
        self.n_requests += 1
        self.in_flight += 1
        self.max_in_flight = max(self.max_in_flight, self.in_flight)
        try:
            await asyncio.sleep(self.delay_s)
            return self._fabric.fetch(url, protocol, **kw)
        except TransportError:
            raise
        finally:
            self.in_flight -= 1

    def fetch_many(self, row_gens, concurrent_limit=100):
        loop = asyncio.new_event_loop()
        try:
            return loop.run_until_complete(
                drive_scans_concurrent(row_gens, self.fetch_async, concurrent_limit)
            )
        finally:
            loop.close()


def _hosts(n):
    # mix of OK / error-class hosts so retries and fallbacks execute
    return [f"h{i}.test" for i in range(n)]


def _gens(cfg, n):
    return [
        scan_row_gen(h, None, "https", "http", cfg, {}, None) for h in _hosts(n)
    ]


def test_concurrent_results_identical_to_sequential():
    cfg = ScanConfig.all_on(retries=1)
    seq_t = LatencyFakeTransport(delay_s=0.0)
    seq = [drive_scan_sync(g, seq_t) for g in _gens(cfg, 40)]
    conc_t = LatencyFakeTransport(delay_s=0.001)
    conc = conc_t.fetch_many(_gens(cfg, 40))
    assert not any(isinstance(r, BaseException) for r in conc)
    assert seq == conc  # ordered, field-for-field (incl. favicon 2nd fetch)


def test_in_task_overlap_wall_clock():
    cfg = ScanConfig.all_on(retries=0)
    n, delay = 30, 0.05
    t = LatencyFakeTransport(delay_s=delay)
    t0 = time.monotonic()
    results = t.fetch_many(_gens(cfg, n), concurrent_limit=100)
    wall = time.monotonic() - t0
    total_request_latency = t.n_requests * delay
    assert t.n_requests >= n  # favicon second fetches included
    # with overlap, wall-clock is a small multiple of ONE request's latency,
    # not the sum; require >=5x better than serial as a loose, load-immune bound
    assert wall < total_request_latency / 5, (wall, total_request_latency)
    assert t.max_in_flight > 1
    assert len(results) == n


def test_semaphore_bounds_in_flight():
    cfg = ScanConfig(fetch_title=False, fetch_favicon=False)
    t = LatencyFakeTransport(delay_s=0.01)
    t.fetch_many(_gens(cfg, 40), concurrent_limit=4)
    assert t.max_in_flight <= 4


def test_row_logic_exception_surfaces_as_exception_object():
    cfg = ScanConfig.all_on()

    def boom_gen():
        raise ValueError("row logic blew up")
        yield  # pragma: no cover

    t = LatencyFakeTransport(delay_s=0.0)
    out = t.fetch_many([boom_gen()] + _gens(cfg, 2))
    assert isinstance(out[0], ValueError)
    assert not isinstance(out[1], BaseException)
    assert not isinstance(out[2], BaseException)


def _page_stage(factory):
    from httpz_spark.operators.fetch import make_fetch_stage

    return make_fetch_stage(ScanConfig.all_on(retries=0), WORLD, ["url_hash"],
                            transport_factory=factory)


def _document_stage(factory):
    from httpz_spark.operators.fetch import make_document_fetch_stage

    return make_document_fetch_stage(WORLD, "url", ["url_hash"], 1 << 20,
                                     transport_factory=factory)


def _page_batch(lo, hi):
    import pandas as pd

    return pd.DataFrame(
        {"url_hash": range(lo, hi),
         "scan_target": [f"h{i}.test" for i in range(lo, hi)],
         "port": [None] * (hi - lo),
         "proto_first": ["https"] * (hi - lo),
         "proto_second": ["http"] * (hi - lo)}
    )


def _document_batch(lo, hi):
    import pandas as pd

    return pd.DataFrame(
        {"url_hash": range(lo, hi),
         "url": [f"https://h{i}.test/robots.txt" for i in range(lo, hi)]}
    )


def test_fetch_stage_one_transport_per_task_and_closed():
    """Round-3 review finding: the stage built a transport per Arrow batch
    and never closed it — real transports leak an event loop (+ session)
    each time.  The stage function is a plain generator, so drive it
    directly with several batches: exactly ONE construction for the whole
    task, close() exactly once, after the iterator is exhausted.  Every
    fetch stage runs the same task driver; both stages are checked."""
    events = []

    class RecordingTransport:
        def __init__(self):
            events.append("create")
            self._fabric = FB.FabricTransport(WORLD)

        def fetch(self, url, protocol, **kw):
            return self._fabric.fetch(url, protocol, **kw)

        def close(self):
            events.append("close")

    for make_stage, batch in ((_page_stage, _page_batch),
                              (_document_stage, _document_batch)):
        events.clear()
        stage = make_stage(lambda: RecordingTransport())
        outs = list(stage(iter([batch(0, 4), batch(4, 4), batch(4, 8),
                                batch(8, 12)])))
        assert len(outs) == 3 and sum(len(o) for o in outs) == 12
        assert events == ["create", "close"], make_stage

        # close() runs even when a batch raises (e.g. the cooperative-stop
        # path)
        events.clear()
        stage2 = make_stage(lambda: RecordingTransport())

        def boom_batches():
            yield batch(0, 2)
            raise RuntimeError("mid-task failure")

        it = stage2(boom_batches())
        next(it)
        try:
            next(it)
        except RuntimeError:
            pass
        it.close()
        assert events == ["create", "close"], make_stage


def _batched_factory(world):
    """Transport factory whose transport only has ``fetch_many``: an async
    facade over the fabric via the engine's own concurrent driver.
    Self-contained, because executors can't import the test module."""

    def factory():
        import asyncio

        from httpz_spark.sources import fabric as FB2
        from httpz_spark.sources.transport import drive_scans_concurrent

        fabric = FB2.FabricTransport(world)

        class BatchedFake:
            def fetch_many(self, row_gens):
                async def fetch_async(url, protocol, **kw):
                    await asyncio.sleep(0.001)
                    return fabric.fetch(url, protocol, **kw)

                loop = asyncio.new_event_loop()
                try:
                    return loop.run_until_complete(
                        drive_scans_concurrent(row_gens, fetch_async, 16)
                    )
                finally:
                    loop.close()

        return BatchedFake()

    return factory


def test_fetch_stage_dispatches_to_fetch_many(spark):
    """End-to-end through mapInPandas: a transport advertising fetch_many is
    driven batched; the emitted rows equal the sequential fabric path's."""
    import pandas as pd

    from httpz_spark.operators.fetch import fetch_output_schema, make_fetch_stage

    rows = [
        {"url_hash": i, "scan_target": f"h{i}.test", "port": None,
         "proto_first": "https", "proto_second": "http"}
        for i in range(24)
    ]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    cfg = ScanConfig.all_on(retries=1)
    schema = fetch_output_schema("url_hash long")

    batched = sdf.mapInPandas(
        make_fetch_stage(cfg, WORLD, ["url_hash"],
                         transport_factory=_batched_factory(WORLD)),
        schema=schema,
    ).toPandas().sort_values("url_hash").reset_index(drop=True)
    sequential = sdf.mapInPandas(
        make_fetch_stage(cfg, WORLD, ["url_hash"]),
        schema=schema,
    ).toPandas().sort_values("url_hash").reset_index(drop=True)
    pd.testing.assert_frame_equal(batched, sequential)


def test_document_stage_dispatches_to_fetch_many(spark):
    """The first-200 document stage runs the same row driver: batched rows
    equal the sequential fabric path's, over hosts that answer 200, non-200
    and transport errors (robots.txt and sitemap URLs)."""
    import pandas as pd

    from httpz_spark.operators.fetch import (
        DOCUMENT_COLUMNS,
        make_document_fetch_stage,
    )

    hosts = FB.all_hosts(WORLD)[:24]
    urls = ([f"https://{h}/robots.txt" for h in hosts]
            + [f"http://{h}/sitemap.xml" for h in hosts] + ["nonsense"])
    sdf = spark.createDataFrame(
        pd.DataFrame({"url_hash": range(len(urls)), "url": urls}))
    schema = f"url_hash long, url string, {DOCUMENT_COLUMNS}"

    def run(factory):
        stage = make_document_fetch_stage(WORLD, "url", ["url_hash", "url"],
                                          1 << 20, transport_factory=factory)
        return (sdf.mapInPandas(stage, schema=schema).toPandas()
                .sort_values("url_hash").reset_index(drop=True))

    batched = run(_batched_factory(WORLD))
    sequential = run(None)
    pd.testing.assert_frame_equal(batched, sequential)
    assert set(sequential["fetch_status"]) >= {200, -1}
    assert (sequential["error_type"] == "PROCESS").sum() == 1
