#!/usr/bin/env python3
"""Benchmark one workload of the materialized-view warehouse.

    python3 warehouse_bench/run.py --workload dashboard_read --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it (``detail {...}``) records the
effective session settings, sample counts, the tail percentile, the
first-half/second-half medians and ``error_rate``. A traced run also
writes its spans under ``.bench_out/``. Exit code 1 means a correctness
check failed or a timed op raised (the message names the op; the result
line then reads ``"correct": false``), 2 that the engine could not be
imported, 3 that the run hit its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from warehouse_bench import probes  # noqa: E402

WORKLOADS = ("dashboard_read", "stream_ingest", "ingest_maintain")
DEADLINE_S = 170.0


def parse(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _kill_children() -> None:
    """SIGKILL every descendant and wait until each is gone."""
    me = os.getpid()
    kids = [p for p in probes.process_tree(me) if p != me]
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    for p in kids:
        while time.time() < deadline:
            try:
                if os.waitpid(p, os.WNOHANG) != (0, 0):
                    break
            except ChildProcessError:  # not our direct child
                if not Path(f"/proc/{p}").exists():
                    break
            time.sleep(0.05)


def _clean_stale(base: Path) -> None:
    """Remove temp roots left by runs that were killed outright."""
    for d in base.glob("*-*"):
        pid = d.name.rsplit("-", 1)[-1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def end_to_end(out, peak_rss: float) -> dict:
    lat = out.latencies_ms
    done = out.attempted - out.failed
    return {
        "setup_s": out.setup_s,
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": probes.tail(lat)["value"],
        "ops_per_s": done / out.window_s,
        "events_per_s": out.events / out.window_s,
        "cpu_ms_per_op": out.cpu_s * 1000.0 / out.attempted,
        "stored_bytes_per_event": out.stored_bytes_per_event,
        "peak_rss_mb": peak_rss,
    }


def main(argv=None) -> int:
    args = parse(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        import pyspark  # noqa: F401

        import clickhouse_learning_spark  # noqa: F401
    except ImportError as e:
        print(f"warehouse_bench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from warehouse_bench import gen, harness, trace

    base = ROOT / ".bench_tmp"
    base.mkdir(exist_ok=True)
    _clean_stale(base)
    tmp = base / f"{args.workload}-{os.getpid()}"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # the short-lived JVM that spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def abort():
        print(f"warehouse_bench: {args.workload} exceeded {DEADLINE_S:.0f} s; "
              "killing the JVM and exiting", file=sys.stderr, flush=True)
        _kill_children()
        shutil.rmtree(tmp, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, abort)
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    h = harness.Harness(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    try:
        h.start_session()
        if args.trace:
            h.wrap_engine()
        if args.workload == "dashboard_read":
            from warehouse_bench import dashboard as wl
        elif args.workload == "stream_ingest":
            from warehouse_bench import stream as wl
        else:
            from warehouse_bench import maintain as wl
        out = wl.run(h)
        peak_rss = probes.peak_rss_mb()
        host_ref = probes.host_ref_ms()
    except gen.CheckFailed as e:
        print(f"warehouse_bench: correctness check failed in {args.workload}: {e}",
              file=sys.stderr)
        return 1
    except harness.BenchError as e:
        print(f"warehouse_bench: {args.workload}: {e}", file=sys.stderr)
        return 1
    finally:
        h.tracer.unwrap_all()
        try:
            h.stop_session()
        finally:
            _kill_children()
            shutil.rmtree(tmp, ignore_errors=True)
            watchdog.cancel()

    lat = out.latencies_ms
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "settings": h.settings,
        "samples": len(lat),
        "latencies_ms": lat,
        "tail": probes.tail(lat),
        "halves": probes.halves(lat),
        "error_rate": out.failed / out.attempted,
        "host_ref_ms": host_ref,
        **out.detail,
        # the per-layer figures an untraced run also measures (GC, steal, ...)
        "layer": out.layer,
    }
    if args.trace:
        layer = {"session.start_s": h.session_s, **out.layer}
        names = [n for n, _ in harness.PER_LAYER] + [f"self.{x}_ms" for x in harness.LAYERS]
        units = dict(harness.PER_LAYER)
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units.get(n, "ms")}
                   for n in names}
        odir = ROOT / ".bench_out" / f"{args.workload}-seed{args.seed}"
        odir.mkdir(parents=True, exist_ok=True)
        (odir / "spans.jsonl").write_text(trace.to_jsonl(h.tracer.spans))
        (odir / "report.json").write_text(json.dumps(
            {"detail": detail, "per_layer": metrics}, indent=1, default=str))
    else:
        e2e = end_to_end(out, peak_rss)
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in harness.END_TO_END}
    print("detail " + json.dumps(detail, default=str))
    # every op succeeds on a correct engine, so a failed op fails the run
    if out.failed:
        print(f"warehouse_bench: {out.failed} of {out.attempted} timed ops in "
              f"{args.workload} raised; first:\n{out.detail['errors'][0]}", file=sys.stderr)
    print(json.dumps({"correct": not out.failed, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}), flush=True)
    return 1 if out.failed else 0


if __name__ == "__main__":
    try:
        code = main()
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        code = 1
    sys.exit(code)
