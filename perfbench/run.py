#!/usr/bin/env python3
"""httpz_spark crawl benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload crawl_waves --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run starts a ``local[nproc]`` Spark
session from this one driver process, builds the seed-derived inputs and
runs one untimed warm-up cycle (together: ``setup_s``), then runs the
workload's cycles back to back -- each cycle starts when the previous one
committed -- until ``--seconds`` of cycle time have passed.  It then checks
the outputs against independent references and prints one JSON object as
the last line of standard output.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns Spark's
event log on, sets up a second world on a fresh namespace next to the
first, and after the untraced body runs the same number of cycles on that
world with spans around every call into the library's layers; it reports
the per-layer metrics (see ``perfbench/tracing.py``) and, on a ``#`` line,
the tracing overhead (traced minus untraced body time, both in the same
session).  Everything the run writes lives under ``.perfbench/`` in the
checkout; the spans and per-span counters of a traced run are written to
``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def cores() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple:
    """(busy, stolen) clock ticks of the host's CPUs since boot, from
    /proc/stat: time the virtual CPUs ran, and time they were ready to run
    but the hypervisor ran another tenant (0 on bare metal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v + [0] * (8 - len(v))
    return user + nice + system + irq + softirq, steal


class Clock:
    """Wall time scaled by the share of CPU time the hypervisor did not
    steal, with the raw wall time kept beside it.

    On a shared host steal comes and goes with other tenants' load: while
    a share f of the time our CPUs were ready to run went to others, the
    run progressed at (1 - f) of its speed, so ``wall * (1 - f)`` is the
    time the same work takes on an uncontended host."""

    def __init__(self):
        self.wall0, self.ticks0 = time.perf_counter(), cpu_ticks()

    def lap(self) -> tuple:
        """(wall * (1 - stolen share), wall) since the last lap, and start
        a new one."""
        wall1, ticks1 = time.perf_counter(), cpu_ticks()
        busy, steal = (b - a for a, b in zip(self.ticks0, ticks1))
        wall = wall1 - self.wall0
        self.wall0, self.ticks0 = wall1, ticks1
        return wall * (1.0 - steal / max(1, busy + steal)), wall


# --------------------------------------------------------------------------
# resident memory of the driver JVM and its Python workers
# --------------------------------------------------------------------------

def _process_tree(root_pid: int) -> list:
    """(pid, depth) of every descendant of ``root_pid``."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [(pid, 1) for pid in children.get(root_pid, [])]
    while todo:
        pid, depth = todo.pop()
        out.append((pid, depth))
        todo.extend((c, depth + 1) for c in children.get(pid, []))
    return out


def _resident_kb(pid: int, depth: int) -> int:
    """RSS of the JVM this process launched (depth 1; it shares no pages
    with the rest of the tree), PSS of the Python workers below it: forked
    workers share their parent's pages, which RSS would count once per
    worker.  (PSS of the JVM itself costs a page-table walk of its whole
    heap on every sample.)"""
    try:
        if depth == 1:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass  # the process ended while we looked
    return 0


class RssSampler:
    """Samples the summed resident memory of every process this one
    started (the Spark JVM and the Python workers it forks) and keeps the
    peak."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            total = sum(_resident_kb(pid, depth)
                        for pid, depth in _process_tree(os.getpid()))
            self.peak_kb = max(self.peak_kb, total)
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------

def start_session(event_log_dir: str | None = None):
    from httpz_spark.session import get_spark

    n = cores()
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": "2g",
        "spark.default.parallelism": str(n),
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait until it is
    gone (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def namespace(seed: int, role: str) -> int:
    """A 31-bit URL-namespace id derived from the run seed: distinct per
    role, so the timed and the traced world crawl disjoint URLs (and
    hit disjoint fabric-cache keys)."""
    from hashlib import blake2b

    d = blake2b(f"{seed}:{role}".encode(), digest_size=4).digest()
    return int.from_bytes(d, "little") & 0x7FFFFFFF


def timed_body(wl, seconds: float | None, n_cycles: int | None = None) -> dict:
    """Closed loop: cycle i+1 starts when cycle i returned (committed).
    Stops after ``seconds`` of cycle time (and once the workload says its
    minimum work is done), or after exactly ``n_cycles``."""
    cycle_s, wall_s, items, attempted, failed = [], [], 0, 0, 0
    while True:
        clock = Clock()
        res = wl.cycle(len(cycle_s))
        net, wall = clock.lap()
        # the workload times only its committed work; scale the steal of
        # the whole call to that share of it
        cycle_s.append(res["secs"] * net / wall)
        wall_s.append(res["secs"])
        items += res["items"]
        attempted += res["attempted"]
        failed += res["failed"]
        if n_cycles is not None:
            if len(cycle_s) >= n_cycles:
                break
        elif sum(wall_s) >= seconds and wl.min_work_done():
            break
    return {"cycle_s": cycle_s, "wall_s": wall_s, "run_s": sum(cycle_s),
            "items": items, "attempted": attempted, "failed": failed}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One set-up (session start + inputs + warm-up), the timed body and
    its checks; with ``trace`` also the traced body on a second world."""
    import tracing as tr
    import workloads

    cls = workloads.WORKLOADS[workload]
    run_dir = os.path.join(WORK, "trace", f"{workload}-seed{seed}")
    ev_dir = os.path.join(run_dir, "eventlog") if trace else None
    if trace:
        shutil.rmtree(run_dir, ignore_errors=True)
    open_wls = []
    try:
        clock = Clock()
        spark = start_session(ev_dir)
        spark.range(1).count()  # the session is usable, not just built
        start_s = clock.lap()
        # set-up runs in session spans, so a traced run bills it to `session`
        tracer = tr.Tracer(spark) if trace else None
        span = tracer.span if trace else (lambda *_: contextlib.nullcontext())
        wl = cls(spark, cores(), os.path.join(WORK, "state", "timed"))
        open_wls.append(wl)
        with span("session", "inputs"):
            wl.setup(namespace(seed, "timed"))
        inputs_s = clock.lap()
        with span("session", "warmup"):
            wl.warmup()
        warmup_s = clock.lap()
        setup = {"start_s": start_s[0], "inputs_s": inputs_s[0],
                 "warmup_s": warmup_s[0],
                 "wall_s": start_s[1] + inputs_s[1] + warmup_s[1]}
        if trace:  # the traced body's own world, set up and warmed untimed
            twl = cls(spark, cores(), os.path.join(WORK, "state", "traced"))
            open_wls.append(twl)
            twl.setup(namespace(seed, "traced"))
            twl.warmup()

        with RssSampler() as rss:
            body = timed_body(wl, seconds)
        failures = wl.check()
        e2e = wl.report(body)
        e2e["setup_s"] = setup["start_s"] + setup["inputs_s"] + setup["warmup_s"]
        e2e["setup_wall_s"] = setup["wall_s"]
        e2e["run_s"] = body["run_s"]
        e2e["cycle_s_p50"] = statistics.median(body["cycle_s"])
        e2e["cycle_wall_s_p50"] = statistics.median(body["wall_s"])
        e2e["peak_rss_mb"] = rss.peak_kb / 1024.0
        out = {"failures": failures, "attempted": body["attempted"],
               "failed": body["failed"], "cycles": len(body["cycle_s"]),
               "e2e": e2e, "setup": setup, "config": wl.config()}

        if trace:
            # same cycle count, same JVM, right after the untraced body
            twl.tracer = tracer
            with tracer.installed():
                tbody = timed_body(twl, None, n_cycles=len(body["cycle_s"]))
            twl.tracer = None
            out["failures"] += [f"traced run: {f}" for f in twl.check()]
            specific = twl.layer_metrics(tbody)
            out["overhead_s"] = tbody["run_s"] - body["run_s"]
        for w in open_wls:
            w.close()
        open_wls = []
        spark.stop()  # flushes the event log
        if trace:
            events = tr.read_event_log(ev_dir)
            layers = tr.layer_metrics(tracer, events, specific)
            layers["session.start_s"] = setup["start_s"]
            layers["session.inputs_s"] = setup["inputs_s"]
            out["layers"] = layers
            tr.write_trace(os.path.join(run_dir, "spans.json"), tracer, events,
                           layers, untraced_run_s=body["run_s"],
                           traced_run_s=tbody["run_s"], failures=out["failures"])
    finally:
        for w in open_wls:
            w.close()
        shutdown_jvm()
    out["correct"] = not out["failures"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "httpz_spark", "plans", "frontier.py")):
        print(f"perfbench: no httpz_spark package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "manifest.json")) as f:
        manifest = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    if args.workload not in manifest["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(manifest['workloads'])}", file=sys.stderr)
        return 2

    # every file the run (and the JVM it starts) writes stays in the checkout
    for sub in ("tmp", "spark-local", "state"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.chdir(WORK)
    sys.path[:0] = [here, ROOT]
    import tracing

    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(os.path.join(WORK, "state"), ignore_errors=True)

    units = {name: m["unit"] for name, m in manifest["end_to_end"].items()
             if "unit" in m}
    units.update((name, m["unit"]) for name, m in manifest["layer_metrics"].items()
                 if "unit" in m)
    units.update((f"{layer}.{c}", u) for layer in tracing.LAYERS
                 for c, u in tracing.COUNTERS.items())
    units.update((m["name"], m["unit"])
                 for m in contract["end_to_end"] + contract["per_layer"])
    wl_meta = manifest["workloads"][args.workload]
    print(f"# workload {args.workload} seed={args.seed} cycles={out['cycles']} "
          f"correct={out['correct']} config={json.dumps(out['config'])}")
    print(f"# setup {json.dumps(out['setup'])}")
    for name in wl_meta["end_to_end"]:
        print(f"# {name} = {out['e2e'][name]:.6g} {units.get(name, '')}")
    for msg in out["failures"]:
        print(f"# CHECK FAILED: {msg}")
    if args.trace:
        for name in sorted(out["layers"]):
            print(f"# {name} = {out['layers'][name]:.6g} {units.get(name, '')}")
        print(f"# trace.overhead_s = {out['overhead_s']:.6g} s")
        metrics = {m["name"]: {"value": float(out["layers"][m["name"]]),
                               "unit": m["unit"]} for m in contract["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(out["e2e"][m["name"]]),
                               "unit": m["unit"]} for m in contract["end_to_end"]}
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
