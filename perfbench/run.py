"""Seeded steady-state benchmark of the engine.

    python3 perfbench/run.py --workload sweep --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run: start the engine's session
(``build_session()`` at local[nproc]), generate the workload's inputs from
``--seed``, run untimed warm-up ops, then time ops in a closed loop until
``--seconds`` have passed, checking every op's outputs. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and
``--trace 1`` the per-layer ones, from a run with Spark's event log on. The
line before it holds diagnostics (co-tenant CPU, op counts, the workload's
own split timings). All scratch files live under ``.perfbench_tmp/`` in
the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_OPS = 3
MAX_RUN_S = 150.0  # stop timing early rather than overrun the 180 s budget


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate(tmp: str) -> None:
    """Keep every file the run writes inside ``tmp`` and size the session
    to this machine. Set before the JVM starts; workers inherit it."""
    for d in ("local", "java"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "java")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _metric(spec_list: list[dict], values: dict[str, float], *, fill_zero: bool) -> dict:
    out = {}
    for m in spec_list:
        if m["name"] not in values and not fill_zero:
            raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    unknown = set(values) - {m["name"] for m in spec_list}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out


def run(args, tmp: str) -> dict:
    _isolate(tmp)
    import numpy as np

    from finiextestingide_spark.session import build_session
    from perfbench.procstat import CotenantMeter, RssSampler
    from perfbench.trace import EventLog, Tracer, event_log_conf
    from perfbench.workloads import WORKLOADS

    spec = _spec()
    log_dir = os.path.join(tmp, "events")
    os.makedirs(log_dir)
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = build_session(
            "perfbench", extra_conf=event_log_conf(log_dir) if args.trace else None
        )
        session_s = time.perf_counter() - t0
        wl = None
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(spark, tag_jobs=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, tracer, tmp, np.random.default_rng(args.seed))
            wl.setup()
            ops = []
            for i in range(wl.warm_ops):
                ops.append({**wl.op(f"w{i}"), "op": f"w{i}", "timed": False})
            setup_s = time.perf_counter() - T_START

            meter = CotenantMeter()
            window0 = time.perf_counter()
            meter.start(window0)
            n_timed = 0
            while (
                time.perf_counter() - window0 < args.seconds or n_timed < MIN_OPS
            ) and time.perf_counter() - T_START < MAX_RUN_S:
                op_id = f"t{n_timed}"
                ops.append({**wl.op(op_id), "op": op_id, "timed": True})
                n_timed += 1
            cpu = meter.read(time.perf_counter())
            wl.finish(ops)
            timed = [o for o in ops if o["timed"]]
            warm = [o for o in ops if not o["timed"]]
            diag = {
                "workload": args.workload,
                "seed": args.seed,
                "ops_timed": len(timed),
                "ops_warm": wl.warm_ops,
                **cpu,
                "op_walls_s": [o["wall_s"] for o in timed],
                "warm_walls_s": [o["wall_s"] for o in warm],
                **wl.diagnostics(timed),
            }
        finally:
            if wl is not None:
                wl.close()
            _stop_spark(spark)
        peak_mb = rss.peak_mb
        diag["peak_rss_mb_by_command"] = rss.peak_by_command

    walls = [o["wall_s"] for o in timed]
    failed = sum(not o["ok"] for o in timed)
    e2e = {
        "setup_s": setup_s,
        "ok_ops_frac": (len(timed) - failed) / len(timed),
        "peak_rss_mb": peak_mb,
        "op_p50_s": statistics.median(walls),
        "ticks_per_s": sum(o["ticks"] for o in timed) / sum(walls),
    }
    diag.update({f"e2e.{k}": v for k, v in e2e.items()})
    if args.trace:
        timed_ids = {o["op"] for o in timed}
        layer = wl.layer_metrics(EventLog(log_dir), timed_ids)
        layer["session.build_s"] = session_s
        layer["trace.op_p50_s"] = e2e["op_p50_s"]
        metrics = _metric(spec["per_layer"], layer, fill_zero=True)
    else:
        metrics = _metric(spec["end_to_end"], e2e, fill_zero=False)
    print(json.dumps({"diagnostics": diag}), flush=True)
    return {
        "correct": all(o["ok"] for o in ops),
        "attempted": len(timed),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["sweep", "live"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
