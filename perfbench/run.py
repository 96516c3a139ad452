"""Closed-loop benchmark of the extraction engine.

    python3 perfbench/run.py --workload receipts_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One client (this process) runs one op
after another in a single local[nproc] SparkSession and checks each op's
own output against the oracles.  The workloads are in perfbench/workloads.py;
BENCHMARK.json names them and every metric.

A run:
1. prepares the seeded corpus and its oracle expectations (cached under
   .perfbench_cache/ by fixture version, seed and size; untimed);
2. starts a fresh JVM and SparkSession and opens the inputs (``setup_s``);
3. runs the first op (``first_op_s``: codegen, JIT and Python-worker boot,
   which a batch job pays on every run), then steady ops until
   ``--seconds`` have passed and the workload's minimum count has run
   (``op_s_p50``, ``docs_per_s``);
4. checks every op's output, outside its timed region.  A failed check or a
   raised op counts as failed, and the command then exits 1.

With ``--trace 1`` the run also records spans around the engine calls,
reads Spark's status stores after each op, alternates traced and untraced
steady ops to measure the tracing overhead, and finally forces each layer
over materialized inputs.  It prints the per-layer metrics instead of the
end-to-end ones and writes the spans to .perfbench_out/trace-*.json.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics.  The line before it lists the end-to-end figures, including
failed_op_frac, for a reader.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Stop starting ops this long after set-up began, so a slow host still ends
# well inside the 180 s a run may take.
DEADLINE_S = 120.0

# A traced run needs at least four steady ops for its traced, untraced,
# untraced, traced order.
MIN_STEADY_TRACED = 4


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    from perfbench.probes import adopt_orphans, reap_children

    # Every process this run starts ends before it returns, on every path:
    # Python workers orphaned when the JVM exits are reparented to this
    # process, and the last step waits for all of them.
    adopt_orphans()
    try:
        return _run(_args(argv))
    finally:
        reap_children()


def _run(args) -> int:
    if not (ROOT / "engine").is_dir() or not (ROOT / "tests").is_dir():
        print(f"perfbench: no engine/ or tests/ under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Python workers import the engine from the checkout, too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # Temporary files (the gateway's connection file, worker scratch) stay
    # inside the checkout as well.
    tmp = ROOT / ".perfbench_out" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)

    from perfbench.probes import (
        SparkCounters, Tracer, peak_rss_mb, start_session, stop_session, write_json,
    )
    from perfbench.workloads import WORKLOADS, timed

    spec = _spec()
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](ROOT, args.seed, cores)
    # Prepare in a child process first: corpus generation and the oracles
    # would otherwise leave their memory in this process's peak RSS.  Here
    # prepare only reads what the child cached.
    prepare_s, _ = timed(lambda: _in_child(_prepare, args.workload, args.seed, cores))
    wl.prepare()

    tracer = Tracer(False)
    ops: list[dict] = []
    traced_outs: list[dict] = []
    t0 = time.perf_counter()
    spark = start_session(ROOT, f"perfbench-{wl.name}", cores)
    try:
        wl.open(spark)
        setup_s = time.perf_counter() - t0
        sc = spark.sparkContext
        counters = SparkCounters(spark) if args.trace else None
        steady_s, i, rss_mb = 0.0, 0, 0.0
        while True:
            n_steady = len(ops) - 1
            enough = steady_s >= args.seconds and n_steady >= (
                max(wl.min_steady, MIN_STEADY_TRACED) if args.trace else wl.min_steady
            )
            late = time.perf_counter() - t0 > DEADLINE_S and n_steady >= 1
            if enough or late:
                break
            # Traced runs trace the first op, then steady ops in the order
            # traced, untraced, untraced, traced: the ops still speed up as
            # the JVM warms, and this order cancels a linear trend out of
            # the traced-minus-untraced overhead.
            traced = bool(args.trace) and (i == 0 or i % 4 in (0, 1))
            rec, out = _run_op(wl, i, sc, tracer, counters, traced)
            rss_mb = max(rss_mb, peak_rss_mb())
            if traced and out is not None:
                traced_outs.append(wl.traced_out(out))
            wl.cleanup(out)
            ops.append(rec)
            if i > 0:
                steady_s += rec["op_s"]
            i += 1
        layer_values = {}
        if args.trace:
            tracer.enabled, tracer.op = True, None
            layer_values = wl.layers(tracer, counters)
            if traced_outs:
                layer_values.update(wl.op_layers(tracer, traced_outs))
        master = sc.master
    finally:
        stop_session(spark)

    failed = sum(1 for o in ops if o["errors"])
    steady_ok = [o["op_s"] for o in ops[1:] if not o["errors"]] or [ops[0]["op_s"]]
    op_p50 = _median(steady_ok)
    e2e = {
        "docs_per_s": wl.n_docs / op_p50,
        "op_s_p50": op_p50,
        "first_op_s": ops[0]["op_s"],
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "nproc": cores, "master": master, "prepare_s": prepare_s,
        "setup_s": setup_s, "ops": ops, "end_to_end": e2e,
    }
    if args.trace:
        from bench import _host_burn

        metrics = _layer_metrics(spec, wl, ops, layer_values)
        metrics["host.burn_s"] = float(_host_burn(1_000_000))
        record.update(
            per_layer=metrics, spans=tracer.spans, self_times=tracer.self_times()
        )
        write_json(ROOT / ".perfbench_out" / f"trace-{wl.name}-s{args.seed}.json", record)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        write_json(ROOT / ".perfbench_out" / f"run-{wl.name}-s{args.seed}.json", record)
        metrics, units = e2e, e2e_units
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")

    for o in ops:
        for err in o["errors"]:
            print(f"perfbench: op {o['op']} failed: {err}", file=sys.stderr)
    print(
        f"{wl.name} seed={args.seed} {master} nproc={cores} ops={len(ops)} "
        f"failed_op_frac={failed / len(ops):.3f} "
        + " ".join(f"{k}={v:.4g} {e2e_units[k]}" for k, v in e2e.items())
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if failed == 0 else 1


def _prepare(workload: str, seed: int, cores: int) -> None:
    from perfbench.workloads import WORKLOADS

    WORKLOADS[workload](ROOT, seed, cores).prepare()


def _in_child(fn, *args) -> None:
    """Run ``fn(*args)`` from this module in a child interpreter and wait
    for it.  (multiprocessing's spawn context would also start a resource
    tracker that outlives this process.)"""
    call = f"from perfbench.run import {fn.__name__}; {fn.__name__}(*{args!r})"
    done = subprocess.run([sys.executable, "-c", call], cwd=ROOT)
    if done.returncode != 0:
        raise RuntimeError(f"corpus preparation failed with exit code {done.returncode}")


def _run_op(wl, i, sc, tracer, counters, traced):
    """One timed op, then its counters and its check (both untimed)."""
    spark = wl.spark
    # Drop the previous op's frames on both sides first, so its garbage is
    # not collected inside this op's timed region.
    gc.collect()
    spark._jvm.System.gc()
    tracer.enabled, tracer.op = traced, i
    sc.setJobDescription(f"perfbench {wl.name} seed={wl.seed} op={i}")
    before = (sc._jsc.getPersistentRDDs().size(),
              spark.conf.get("spark.sql.shuffle.partitions"))
    mark = counters.watermark() if traced else None
    w0, t0 = time.time(), time.perf_counter()
    out, errors = None, []
    try:
        out = wl.op(i, tracer)
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc()
        errors.append(f"raised {type(exc).__name__}: {exc}")
    op_s = time.perf_counter() - t0
    w1 = time.time()
    sc.setJobDescription(None)
    tracer.enabled = False
    rec = {"op": i, "op_s": op_s, "traced": traced, "errors": errors}
    if traced:
        rec["spark"] = counters.read(mark, w0, w1)
    if out is not None:
        try:
            errors.extend(wl.check(out))
        except Exception as exc:  # noqa: BLE001 — a check that cannot run fails the op
            traceback.print_exc()
            errors.append(f"check raised {type(exc).__name__}: {exc}")
    after = (sc._jsc.getPersistentRDDs().size(),
             spark.conf.get("spark.sql.shuffle.partitions"))
    rec.update(persisted_rdds=[before[0], after[0]], shuffle_partitions=[before[1], after[1]])
    return rec, out


def _layer_metrics(spec, wl, ops, layer_values) -> dict:
    """Every per-layer metric of BENCHMARK.json.  A layer the workload does
    not run reads 0."""
    values = {m["name"]: 0.0 for m in spec["per_layer"]}
    traced = [o for o in ops[1:] if o["traced"] and not o["errors"]]
    untraced = [o for o in ops[1:] if not o["traced"] and not o["errors"]]
    spark_keys = ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_mb",
                  "spill_mb", "scan_mb", "outside_stages_s")
    for key in spark_keys:
        values[f"spark.{key}"] = float(_median([o["spark"][key] for o in traced]))
    values["spark.first_outside_stages_s"] = ops[0]["spark"]["outside_stages_s"]
    py = [o["spark"]["python"] for o in traced]
    for key in ("boot_s", "init_s", "total_s"):
        values[f"python.{key}"] = float(_median([p[key] for p in py]))
    values["python.sent_mb"] = _median([p["sent_b"] for p in py]) / 2**20
    values["python.received_mb"] = _median([p["received_b"] for p in py]) / 2**20
    values["layout.decode_rows_per_payload"] = _median([p["rows"] for p in py]) / wl.payloads
    values["trainops.persisted_rdds_after"] = float(
        _median([o["persisted_rdds"][1] - o["persisted_rdds"][0] for o in ops])
    )
    values["session.conf_drift_ops"] = float(
        sum(1 for o in ops if o["shuffle_partitions"][0] != o["shuffle_partitions"][1])
    )
    values["trace.overhead_s"] = _median([o["op_s"] for o in traced]) - _median(
        [o["op_s"] for o in untraced]
    )
    unknown = set(layer_values) - set(values)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    values.update(layer_values)
    return values


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
