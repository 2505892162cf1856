"""Benchmark of the bio_data_validation_spark engine.

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. One process: a SparkSession on
``local[<usable cores>]``, SETUP_REPS set-ups (session start plus their
median is ``setup_s``), the excluded warm-up op(s), then ops for
``--seconds``. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (that run alternates untraced and traced ops and
writes its spans to ``.perfbench/traces/``). Everything the run writes
stays under ``.perfbench/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
# No op starts after this many seconds of run time, whatever --seconds says.
DEADLINE_S = 150.0

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
}
PER_LAYER = {
    "cold_run_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "datagen.gen_s": "s",
    "rules.load_s": "s",
    "sources.input_mb": "MB",
    "profilepass.busy_s": "s",
    "profilepass.mb_per_s": "MB/s",
    "profilepass.out_per_in": "ratio",
    "fused.busy_s": "s",
    "fused.shuffle_write_mb": "MB",
    "drift.busy_s": "s",
    "violations.busy_s": "s",
    "violations.rows_emitted": "count",
    "violations.shuffle_write_mb": "MB",
    "violations.spill_mb": "MB",
    "verdicts.busy_s": "s",
    "policy.busy_s": "s",
    "report.busy_s": "s",
    "checkpoint.busy_s": "s",
    "checkpoint.ledger_files": "count",
    "incremental.fingerprint_s": "s",
    "incremental.carried_frac": "ratio",
    "incremental.rows_rescanned": "count",
    "ingest.payload_s": "s",
    "ingest.rules_s": "s",
    "ingest.jobs_per_request": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "driver.cpu_s": "s",
    "write_amp": "ratio",
    "failed_frac": "ratio",
    "ops.samples": "count",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: Path) -> None:
    """Confine every file Spark, the JVM and Python workers write to the
    run's work dir, and let Python workers import the engine."""
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Every JVM, including spark-submit's launcher: no hsperfdata in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.pop("SPARK_GRAFT_LIVE_METRICS", None)


def _start_session(work: Path):
    from bio_data_validation_spark.session import get_spark

    return get_spark(
        f"local[{_cores()}]",
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": str(work / "warehouse")},
    )


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) of this process and its live descendants:
    the driver JVM and the Python worker daemon/workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every child."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — best effort; the JVM is reaped below
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while time.time() < deadline:
        left = _descendants(os.getpid())
        if not left:
            return
        time.sleep(0.2)
    import signal

    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _layer_metrics(traced: list[dict], cores: int) -> dict[str, float]:
    """Per-layer numbers of each traced op; the median over traced ops."""
    per_op: list[dict[str, float]] = []
    for t in traced:
        op, facts = t["op"], t["facts"]
        selfs, ctr = op["self_s"], op["counters"]
        phases = facts["report"].get("phase_times", {})

        def c(names, key):
            return sum(ctr.get(n, {}).get(key, 0) for n in names)

        def s(*names):
            return sum(selfs.get(n, 0.0) for n in names)

        prof_s = s("write_profile")
        scanned_mb = facts.get("scanned_bytes", 0) / 1e6
        stages = op["stages"]
        exec_s = sum(st["executor_run_ms"] for st in stages) / 1000.0
        vp = next((sp for sp in op["spans"] if sp["name"] == "violation_pass"), None)
        m = {
            "sources.input_mb": facts["source_bytes"] / 1e6,
            "profilepass.busy_s": prof_s,
            "profilepass.mb_per_s": scanned_mb / prof_s if prof_s > 0 else 0.0,
            "profilepass.out_per_in": facts["profile_bytes"] / facts["scanned_bytes"] if scanned_mb else 0.0,
            "fused.busy_s": float(phases.get("pass_1_fused_stats", 0.0)),
            "fused.shuffle_write_mb": c(["phase:fused"], "shuffle_write_bytes") / 1e6,
            "drift.busy_s": s("drift_rule_results"),
            "violations.busy_s": s("profile_violations") + float(phases.get("pass_2_violations", 0.0)),
            "violations.rows_emitted": float(facts.get("violation_rows", 0)),
            "violations.shuffle_write_mb": c(["profile_violations", "phase:pass2"], "shuffle_write_bytes") / 1e6,
            "violations.spill_mb": c(["profile_violations", "phase:pass2"], "spilled_bytes") / 1e6,
            "verdicts.busy_s": s("build_verdicts", "partition_decisions", "global_decision"),
            "policy.busy_s": s("generate_rationale", "generate_conditions", "quality_metrics"),
            "report.busy_s": s("render_markdown", "render_html"),
            "checkpoint.busy_s": s("Ledger.append", "Ledger.completed_pids"),
            "checkpoint.ledger_files": float(facts.get("ledger_files", 0)),
            "incremental.fingerprint_s": s("snapshot_diff", "relation_fingerprint"),
            "incremental.carried_frac": float(facts.get("carried_frac", 0.0)),
            "incremental.rows_rescanned": float(facts.get("rows_rescanned", 0)),
            "ingest.payload_s": s("ingest_payload"),
            "ingest.rules_s": (op["t1"] - vp["t0"]) if vp else 0.0,
            "ingest.jobs_per_request": float(op["jobs"]) if vp else 0.0,
            "spark.jobs": float(op["jobs"]),
            "spark.tasks": float(sum(st["tasks"] for st in stages)),
            "spark.executor_s": exec_s,
            "spark.core_util": exec_s / (t["seconds"] * cores) if t["seconds"] > 0 else 0.0,
            "spark.shuffle_write_mb": sum(st["shuffle_write_bytes"] for st in stages) / 1e6,
            "spark.spill_mb": sum(st["spilled_bytes"] for st in stages) / 1e6,
            "spark.failed_tasks": float(sum(st["failed_tasks"] for st in stages)),
            "driver.cpu_s": t["cpu_s"],
            "write_amp": facts.get("written_bytes", 0) / facts["source_bytes"],
            "trace.spans": float(len(op["spans"])),
        }
        per_op.append(m)
    keys = per_op[0].keys() if per_op else []
    return {k: _median([m[k] for m in per_op]) for k in keys}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--wrong-expected", action="store_true",
        help="self-test: corrupt each op's expected value so every check fails",
    )
    args = ap.parse_args(argv)
    run_t0 = time.perf_counter()

    sys.path.insert(0, str(ROOT))
    try:
        import bio_data_validation_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine sources not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    work = base / "work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    t = time.perf_counter()
    spark = _start_session(work)
    session_s = time.perf_counter() - t
    cores = _cores()
    try:
        wl = WORKLOADS[args.workload](spark, work / "data", args.seed, args.wrong_expected)
        reps = [wl.setup(k) for k in range(1, SETUP_REPS + 1)]
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        results: list[dict] = []
        window_t0 = time.perf_counter()
        i = 0

        def need_more() -> bool:
            kinds = {r["traced"] for r in results}
            if len(kinds) < (2 if tracer else 1):  # a traced run needs both kinds
                return True
            return time.perf_counter() - window_t0 < args.seconds

        while need_more() and time.perf_counter() - run_t0 < DEADLINE_S:
            ctx = wl.prepare(i)
            traced = tracer is not None and i % 2 == 1
            if traced:
                tracer.install()
                tracer.begin(f"op{i}")
            cpu0, t0 = time.process_time(), time.perf_counter()
            try:
                out, err = wl.run(ctx), None
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                out, err = None, f"{type(e).__name__}: {e}"
            secs, cpu = time.perf_counter() - t0, time.process_time() - cpu0
            rec = {"i": i, "seconds": secs, "cpu_s": cpu, "traced": traced, "error": err}
            if traced:
                rec["op"] = tracer.end()
                tracer.uninstall()
            try:
                rec["facts"] = wl.check(ctx, out) if err is None else {"ok": False}
            except Exception as e:  # noqa: BLE001 — a check that cannot run is a failed op
                rec["facts"] = {"ok": False}
                rec["error"] = f"check: {type(e).__name__}: {e}"
            if rec["error"] or not rec["facts"]["ok"]:
                print(f"perfbench: op {i} failed: {rec['error'] or 'output mismatch'}", file=sys.stderr)
            results.append(rec)
            i += 1

        attempted = len(results)
        failed = sum(1 for r in results if r["error"] or not r["facts"]["ok"])
        plain = [r for r in results if not r["traced"]]
        run_s = _median([r["seconds"] for r in plain])
        items = _median([r["facts"].get("items", 0) for r in plain if r["facts"]["ok"]])
        peak_mb = _peak_rss_mb()
        setup_each = [r["gen"] + r["rules"] + r["baseline"] for r in reps]
        if args.trace:
            traced = [r for r in results if r["traced"] and r["facts"]["ok"]]
            metrics = {
                "cold_run_s": wl.cold_s,
                "peak_rss_mb": peak_mb,
                "session.start_s": session_s,
                "datagen.gen_s": _median([r["gen"] for r in reps]),
                "rules.load_s": _median([r["rules"] for r in reps]),
                **_layer_metrics(traced, cores),
                "failed_frac": failed / attempted,
                "ops.samples": float(attempted),
                "trace.overhead_s": (
                    _median([r["seconds"] for r in traced]) - run_s if traced and plain else 0.0
                ),
            }
            missing = [k for k in PER_LAYER if k not in metrics]
            if missing:  # no successful traced op: report zeros, counted as failed
                metrics.update({k: 0.0 for k in missing})
            trace_path = base / "traces" / f"{args.workload}-s{args.seed}.json"
            tracer.dump(trace_path)
            print(f"perfbench: spans written to {trace_path}", file=sys.stderr)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": session_s + _median(setup_each),
                "run_s": run_s,
                "items_per_s": items / run_s if run_s > 0 else 0.0,
            }
            units = END_TO_END
        print(
            f"perfbench: {args.workload} seed={args.seed} ops={attempted} failed={failed} "
            f"op_s={[round(r['seconds'], 3) for r in results]} setups_s={[round(x, 3) for x in setup_each]} "
            f"session_s={session_s:.3f} warmup_s={warmup_s:.3f} cold_s={wl.cold_s:.3f}",
            file=sys.stderr,
        )
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
