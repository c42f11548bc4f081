#!/usr/bin/env python3
"""Benchmark driver for the CDC engine and its analytics registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process starts one Spark session at
``local[--cores]`` (default 4), builds the workload's inputs from ``--seed``,
warms up, then repeats the workload's pass in a closed loop until
``--seconds`` have passed (at least one pass; three with ``--trace 1``). After
the timed passes it checks every output against an independent oracle and
runs a fixed host-calibration probe. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it is a report with the details behind
them. Everything the run writes stays under ``.perfbench/`` in the
repository root. See perfbench/README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_then_trickle", "query_suite")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4,
                   help="Spark local[N] core count (default 4)")
    return p.parse_args(argv)


def isolate(run_dir: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def start_session(run_dir: str, cores: int):
    from mimic_iv_etl_spark.session import get_spark_session

    return get_spark_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (``/proc/stat``); 0 where the kernel does not report it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the session launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:  # the gateway may already be gone; the JVM wait below decides
            traceback.print_exc()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def quantile_tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n, s = len(xs), sorted(xs)
    for pct in (99.9, 99, 95, 90, 75, 50):
        rank = math.ceil(n * pct / 100)
        if rank and n - rank >= 10:
            return {"p": pct, "n": n, "value": s[rank - 1]}
    return {"p": None, "n": n, "value": None}


def host_calibration(spark, run_dir: str) -> dict:
    """Fixed scan + aggregate probe on fixed data (independent of --seed),
    so a slow host epoch is visible next to the numbers."""
    import pyspark

    import datagen

    path = os.path.join(run_dir, "calibration")
    pq_path = os.path.join(path, "lineitem.parquet")
    os.makedirs(path, exist_ok=True)
    import pyarrow.parquet as pq

    pq.write_table(datagen.tables(0.02, 0)["lineitem"], pq_path)
    df = (spark.read.parquet(pq_path)
          .groupBy("l_returnflag", "l_linestatus")
          .agg({"l_extendedprice": "sum", "l_quantity": "avg", "*": "count"}))
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        reps.append(time.perf_counter() - t0)
    return {
        "probe": "group-by sum/avg/count over 120k generated lineitem rows (seed 0)",
        "probe_median_s": statistics.median(reps),
        "probe_reps_s": reps,
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


class Context:
    """Everything a workload needs: session, paths, clocks and checks."""

    def __init__(self, spark, run_dir: str, seed: int) -> None:
        from spans import OpClock, SparkStats, Tracer

        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = Tracer()
        self.clock = OpClock()
        self.stats = SparkStats(spark)
        self.checks: list[dict] = []
        self.phases: dict[str, list[float]] = {}
        self.spark_phases: dict[str, dict] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    @contextmanager
    def timed(self, name: str):
        """A span when tracing; otherwise a wall-clock sample of ``name``."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        if not self.tracer.enabled:
            self.phases.setdefault(name, []).append(time.perf_counter() - t0)

    def spark_mark(self, label: str) -> None:
        """When tracing, file the Spark stages and jobs run since the last
        mark under ``label``."""
        if self.tracer.enabled:
            self.spark_phases[label] = self.stats.collect()

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})


def _ingest_phase(ctx, pid: str, root: str, loop_name: str) -> dict:
    """Module-named layer times of one ingest phase (the spans under
    ``root``). ``loop_name`` is the driver's own time: the root span minus
    its children (the apply_batch calls and the sidecar flushes)."""
    tot = ctx.tracer.totals(pid, within=root)
    selft = ctx.tracer.self_times(pid, within=root)
    dur = {k: v[1] for k, v in tot.items()}
    locator = dur.get("cdc.apply.locator_job", 0.0)
    wall = dur.get(root, 0.0)
    stage = dur.get("lake.table.stage_delta", 0.0)
    commit = dur.get("lake.table.commit_delta", 0.0)
    sidecar = dur.get("cdc.metrics.sidecar", 0.0)
    apply_self = selft.get("cdc.apply.apply_batch", 0.0)
    loop = selft.get(root, 0.0)
    return {
        "wall_s": wall,
        "cdc.apply.batches": tot.get("cdc.apply.apply_batch", (0, 0.0))[0],
        "cdc.apply.batch_s": dur.get("cdc.apply.apply_batch", 0.0),
        "cdc.apply.locator_job_s": locator,
        "lake.table.stage_delta_s": stage,
        "lake.table.commit_delta_s": commit,
        "cdc.metrics.sidecar_s": sidecar,
        "cdc.apply.self_s": apply_self,
        loop_name: loop,
        "kernel_share": (locator + stage) / wall if wall else 0.0,
        "fixed_cost_share": (apply_self + commit + sidecar + loop) / wall if wall else 0.0,
    }


def _layer_metrics(ctx, wl, traced: list[dict]) -> tuple[dict, dict]:
    """(per-layer metrics, module-named report) from the traced passes.

    The per-layer metrics are the same for every workload: where the pass's
    wall time went by role (driver-side plan construction, waiting on Spark
    jobs, everything else), Spark's own stage totals, and the closure
    residual. The report names the modules behind each role."""
    import ingest

    med = statistics.median
    rows: list[dict] = []
    layers: list[dict] = []
    for p in traced:
        pid, wall, sp = p["id"], p["wall"], p["spark"]
        dur = {k: v[1] for k, v in ctx.tracer.totals(pid).items()}
        if wl.name == "query_suite":
            plan = sum(v for k, v in dur.items() if k.endswith(".build"))
            wait = sum(v for k, v in dur.items() if k.endswith(".exec"))
            top = plan + wait
            lay = {f"{k}_s": v for k, v in dur.items()}
            lay.update({f"registry.{q}.build_jobs": n for q, n in wl.build_jobs.items()})
        else:
            bulk = _ingest_phase(ctx, pid, "cdc.replay.replay_log",
                                 "cdc.replay.loop_s")
            trickle = _ingest_phase(ctx, pid, "cdc.stream.stream_log",
                                    "cdc.stream.trigger_s")
            # trickle's Spark job time beyond what bulk's per-event job cost
            # predicts: the jobs' own per-batch fixed cost
            per_event = ((bulk["cdc.apply.locator_job_s"]
                          + bulk["lake.table.stage_delta_s"]) / ingest.BULK["n_events"])
            trickle["job_overhead_s"] = max(0.0, (
                trickle["cdc.apply.locator_job_s"] + trickle["lake.table.stage_delta_s"]
                - per_event * ingest.TRICKLE["n_events"]))
            reads = {f"{k}_s": dur.get(k, 0.0) for k in ingest.READS}
            plan = bulk["cdc.apply.self_s"] + trickle["cdc.apply.self_s"]
            wait = (bulk["cdc.apply.locator_job_s"] + bulk["lake.table.stage_delta_s"]
                    + trickle["cdc.apply.locator_job_s"]
                    + trickle["lake.table.stage_delta_s"] + sum(reads.values()))
            top = bulk["wall_s"] + trickle["wall_s"] + sum(reads.values())
            lay = {**{f"bulk.{k}": v for k, v in bulk.items()},
                   **{f"trickle.{k}": v for k, v in trickle.items()},
                   **{f"serve.{k}": v for k, v in reads.items()}}
        rows.append({
            "driver_plan_s": plan,
            "spark_wait_s": wait,
            "driver_other_s": wall - plan - wait,
            "closure_residual_frac": (wall - top) / wall,
            **{f"spark.{k}": v for k, v in sp["total"].items()},
        })
        lay["closure.pass_wall_s"] = wall
        lay["closure.spans_s"] = top
        lay["closure.residual_s"] = wall - top
        layers.append(lay)
    metrics = {k: med(r[k] for r in rows) for k in rows[0]}
    report = {"layers": {k: med(x[k] for x in layers if k in x)
                         for k in layers[0]},
              "spark_by_phase": traced[-1]["spark"]["phases"]}
    if hasattr(wl, "table_layers"):
        report["table"] = wl.table_layers()
    return metrics, report


def _merge_spark(phases: dict[str, dict]) -> dict:
    """One pass's Spark totals from its per-phase collections."""
    from spans import add_totals

    total: dict = {}
    for ph in phases.values():
        add_totals(total, ph)
    return {"total": total, "phases": phases}


def run(args) -> tuple[dict, dict]:
    import ingest
    import queries

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, args.cores)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    make = {"bulk_then_trickle": ingest.BulkThenTrickle,
            "query_suite": queries.QuerySuite}[args.workload]

    t0 = time.perf_counter()
    spark = start_session(run_dir, args.cores)
    session_s = time.perf_counter() - t0
    attempted = failed = 0
    try:
        from spans import Patches

        ctx = Context(spark, run_dir, args.seed)
        wl = make(ctx)
        setup_parts = {"session_start_s": session_s, **wl.setup()}
        setup_s = (session_s + setup_parts["inputs_gen_s"]
                   + setup_parts["warmup_s"])
        ctx.phases.clear()  # warm-up samples are not measurements

        passes: list[dict] = []
        missing: set[str] = set()
        steal0 = cpu_steal_s()
        deadline = time.perf_counter() + args.seconds
        # traced runs alternate passes U T U T ...; comparing each traced pass
        # with the untraced passes on both sides cancels a linear drift
        # across the run (a JVM still warming up)
        min_passes = 3 if args.trace else wl.min_passes
        failed_passes = 0
        while failed_passes < 3 and (len(passes) < min_passes
                                     or time.perf_counter() < deadline):
            traced = bool(args.trace) and len(passes) % 2 == 1
            pid = f"p{len(passes)}"
            patches = Patches()
            for site in wl.op_sites:
                patches.wrap(site, ctx.clock.timed)
            if traced:
                ctx.stats.collect()  # forget stages run before this pass
                ctx.spark_phases = {}
                for site, factory in wl.trace_sites:
                    patches.wrap(site, factory(ctx.tracer))
            ctx.tracer.enabled = traced
            ctx.tracer.pass_id = pid
            n_ops0 = len(ctx.clock.seconds)
            attempted += wl.ops_per_pass
            try:
                wall = wl.run_pass()
            except Exception:
                traceback.print_exc()
                failed += 1
                failed_passes += 1
                continue
            finally:
                ctx.tracer.enabled = False
                patches.undo()
                missing.update(patches.missing)
            rec = {"id": pid, "traced": traced, "wall": wall,
                   "ops": ctx.clock.seconds[n_ops0:]}
            if traced:
                ctx.spark_phases["rest"] = ctx.stats.collect()
                rec["spark"] = _merge_spark(ctx.spark_phases)
            passes.append(rec)
        if not passes:
            raise RuntimeError("no pass completed")

        checks_before = len(ctx.checks)
        try:
            wl.checks()
        except Exception as e:
            traceback.print_exc()
            ctx.check("checks_ran", False, repr(e)[:200])
        new_checks = ctx.checks[checks_before:]
        attempted += len(new_checks)
        failed += sum(not c["ok"] for c in new_checks)

        steal_timed = cpu_steal_s() - steal0
        calibration = host_calibration(spark, run_dir)
        calibration["cpu_steal_s_timed_passes"] = steal_timed
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss_kb = vm_hwm_kb(os.getpid()) + (vm_hwm_kb(jvm.pid) if jvm else 0)

        plain = [p for p in passes if not p["traced"]]
        traced_passes = [p for p in passes if p["traced"]]
        ops = [o for p in plain for o in p["ops"]]
        # the geometric mean weighs every operation alike, so it does not
        # jump when the median falls between two groups of operations
        e2e = {
            "pass_s": statistics.median(p["wall"] for p in plain),
            "op_geomean_s": statistics.geometric_mean(ops),
            "setup_s": setup_s,
            "peak_rss_mb": rss_kb / 1024.0,
        }
        report = {
            "workload": args.workload, "seed": args.seed, "cores": args.cores,
            "seconds": args.seconds, "trace": args.trace,
            "setup": setup_parts,
            "cold_penalty_s": setup_parts["cold_pass_s"] - e2e["pass_s"],
            "passes": [{"id": p["id"], "traced": p["traced"], "wall_s": p["wall"],
                        "ops": len(p["ops"])} for p in passes],
            "op_p50_s": statistics.median(ops),
            "op_tail": quantile_tail(ops),
            "op_max_s": statistics.median(max(p["ops"]) for p in plain),
            "checks": ctx.checks,
            "check_s": getattr(wl, "check_s", None),
            "host_calibration": calibration,
            "unhooked_sites": sorted(missing),
        }
        phase = {k: statistics.median(v) for k, v in ctx.phases.items()}
        report["phases_s"] = phase
        if wl.name == "bulk_then_trickle":
            report["resume_s"] = wl.resume_s
            report["oracle_s"] = wl.oracle_s
            report["replay_events_per_s"] = (ingest.BULK["n_events"]
                                             / phase["cdc.replay.replay_log"])
            report["stream_events_per_s"] = (ingest.TRICKLE["n_events"]
                                             / phase["cdc.stream.stream_log"])
        else:
            med = statistics.median
            report["query_medians_s"] = {
                q: med(b + x for b, x in v) for q, v in wl.per_query.items() if v}
            report["query_dedup_s"] = sum(report["query_medians_s"][q]
                                          for q in queries.DEDUP)
            report["known_exclusions"] = wl.exclusions
            report["rows"] = wl.rows
        if args.trace:
            per_layer, layer_report = _layer_metrics(ctx, wl, traced_passes)
            # each traced pass against the mean of its untraced neighbours
            overhead = []
            for i, p in enumerate(passes):
                near = [q["wall"] for q in passes[max(0, i - 1):i + 2]
                        if not q["traced"]]
                if p["traced"] and near:
                    overhead.append(p["wall"] / statistics.fmean(near) - 1.0)
            untraced = statistics.median(p["wall"] for p in plain)
            traced_wall = statistics.median(p["wall"] for p in traced_passes)
            per_layer.update({
                "trace_overhead_frac": statistics.median(overhead),
                "setup.session_start_s": session_s,
                "setup.inputs_gen_s": setup_parts["inputs_gen_s"],
                "setup.warmup_s": setup_parts["warmup_s"],
                "checks_s": getattr(wl, "check_s", 0.0) or 0.0,
                "host.probe_s": calibration["probe_median_s"],
            })
            report.update(layer_report)
            report["trace_overhead"] = {"traced_pass_s": traced_wall,
                                        "untraced_pass_s": untraced}
            trace_dir = os.path.join(work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(
                    trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"report": report, "spans": ctx.tracer.dump()}, f)
            metrics = per_layer
        else:
            metrics = e2e
        report["e2e"] = e2e
        return {"attempted": attempted, "failed": failed,
                "metrics": metrics}, report
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


UNITS = {"peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("_bytes"):
        return "B"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mimic_iv_etl_spark", "__init__.py")):
        print(f"perfbench: engine package mimic_iv_etl_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    try:
        result, report = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps({"report": report}, default=str))
    failed = result["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
