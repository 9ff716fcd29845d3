"""Benchmark of record for the validation engine.

    python3 perfbench/run.py --workload images-validate --seed 1 --seconds 10 --trace 0

Run from the repository root. When the seeded inputs are not cached yet,
the prepare step (``prepare.py``) generates them in a process of its own
first. One process then starts one Spark session on ``local[<cores>]``,
runs ``WARMUP_PASSES`` warm-up passes, and then runs closed-loop
validation passes through ``run_validation`` for ``--seconds`` (at least
``MIN_PASSES``), checking every pass's output. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` also calls each layer's public entry
point on the workload's input and prints the per-layer metrics and the
layer table. All state (inputs, caches, Spark scratch, traces) stays
under ``.perfbench/`` in the repository. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Exit code 0
when every pass was correct, 1 when any pass failed, its output did not
match or the inputs could not be prepared, 2 on a usage error or when
the engine sources are absent.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

from sparkstats import ROOT, STATE, configure_env  # noqa: E402

HERE = Path(__file__).resolve().parent

# a fixed schedule, the same in every run: the cold pass and one more
# warm-up pass, then at least MIN_PASSES measured passes
WARMUP_PASSES = 2
MIN_PASSES = 4
PREPARE_TIMEOUT_S = 600


def _percentile_tail(times: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten passes beyond it."""
    n = len(times)
    if n < 11:
        return None
    q = (n - 10) / n
    return 100.0 * q, sorted(times)[n - 11]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "dcc_validate_metadata_spark" / "__init__.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    cores = configure_env()
    spec = {
        kind: {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())[kind]}
        for kind in ("end_to_end", "per_layer")
    }
    units = spec["end_to_end"]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from layers import Tracer, format_table, probe_layers
    from sparkstats import SparkStats, start_session, stop_session, tree_peak_rss_mb

    wl = WORKLOADS[args.workload](STATE, args.seed)
    t0 = time.time()
    cached = wl.ready()
    if not cached:
        # its own process, so neither its time nor its memory is measured
        rc = subprocess.run(
            [sys.executable, str(HERE / "prepare.py"), "--workload", wl.name,
             "--seed", str(args.seed)],
            stdout=sys.stderr, timeout=PREPARE_TIMEOUT_S, check=False,
        ).returncode
        if rc != 0 or not wl.ready():
            print(f"prepare step failed (exit code {rc})", file=sys.stderr)
            return 1
    prepare_s = time.time() - t0

    spark = start_session()
    tracer = None
    try:
        sc = spark.sparkContext
        stats = SparkStats(spark)
        ontology = wl.ontology(spark)
        work = STATE / "work" / f"{wl.name}-s{args.seed}"
        shutil.rmtree(work, ignore_errors=True)
        tracer = Tracer(spark, stats) if args.trace else None

        n_pass = 0
        passes: list[dict] = []
        failures: list[str] = []

        def one_pass(measured: bool) -> dict:
            nonlocal n_pass
            out = work / f"pass-{n_pass}"
            rec = {"id": n_pass, "measured": measured}
            n_pass += 1
            if tracer is not None and measured:
                with tracer.span("pass", pass_id=rec["id"]) as span:
                    result = wl.run_pass(spark, out, ontology)
                rec.update(wall_s=span["wall_s"], task_s=span["task_s"],
                           jobs=span["jobs"], stages=span["stages"])
            else:
                gid = f"pass-{rec['id']}"
                sc.setJobGroup(gid, "pass")
                t = time.time()
                result = wl.run_pass(spark, out, ontology)
                rec["wall_s"] = time.time() - t
                g = stats.group(gid)
                rec.update(task_s=g["task_s"], jobs=g["jobs"], stages=g["stages"])
            chk = wl.check(result, out)
            rec["ok"], rec["violation_rows"] = chk.ok, chk.violation_rows
            if tracer is not None and measured:
                span["violation_rows"] = chk.violation_rows
            if not chk.ok:
                failures.append(f"pass {rec['id']}: {chk.detail}")
            shutil.rmtree(out, ignore_errors=True)
            return rec

        def guarded(measured: bool) -> dict:
            try:
                return one_pass(measured)
            except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
                failures.append(f"pass {n_pass - 1}: {type(e).__name__}: {e}")
                return {"id": n_pass - 1, "measured": measured, "ok": False}

        warm: list[dict] = []
        while not failures and len(warm) < WARMUP_PASSES:
            warm.append(guarded(False))
        t_measure = time.time()
        setup_s = t_measure - T_PROCESS - prepare_s
        while not failures and (
            len(passes) < MIN_PASSES or time.time() - t_measure < args.seconds
        ):
            passes.append(guarded(True))
        ok_passes = [r for r in passes if r["ok"]]
        peak_rss = tree_peak_rss_mb()

        layer_metrics, table = {}, None
        if tracer is not None and ok_passes and not failures:
            pass_spans = [
                dict(s, violation_rows=r["violation_rows"])
                for s, r in zip([s for s in tracer.spans if s["name"] == "pass"], ok_passes)
            ]
            layer_metrics, table, per_codec = probe_layers(tracer, wl, ontology, pass_spans)
            decodes = bool(wl.ruleset().udf_rules)
            if (layer_metrics["images.decode_nodes"] > 0) != decodes:
                failures.append(
                    f"{layer_metrics['images.decode_nodes']} decode nodes in the plan; "
                    f"expected {'some' if decodes else 'none'}"
                )
    finally:
        stop_session(spark)
    if tracer is not None:
        tracer.write(STATE / "traces" / f"{wl.name}-s{args.seed}.jsonl")

    attempted = len(passes) + len(warm)
    failed = len(failures)
    walls = [r["wall_s"] for r in ok_passes]
    print(f"workload {wl.name}  seed {args.seed}  rows {wl.n_rows}  cores {cores}  "
          f"warm-up passes {len(warm)}  measured passes {len(passes)}  "
          f"inputs {'cached' if cached else f'prepared in {prepare_s:.1f} s'}")
    print("pass wall s: warm-up " + " ".join(f"{r['wall_s']:.2f}" for r in warm if "wall_s" in r)
          + " | measured " + " ".join(f"{r['wall_s']:.2f}" for r in passes if "wall_s" in r))
    for f in failures:
        print(f"FAILED {f}")
    metrics: dict[str, dict] = {}
    if walls:
        p50 = statistics.median(walls)
        e2e = {
            "setup_s": setup_s,
            "pass_p50_s": p50,
            "rows_per_s": wl.n_rows / p50,
            "task_s_per_krow": statistics.median(
                r["task_s"] / (wl.n_rows / 1000.0) for r in ok_passes
            ),
            "peak_rss_mb": peak_rss,
        }
        tail = _percentile_tail(walls)
        print(f"{'metric':<18} {'value':>12} {'unit':<6} n")
        for k, v in e2e.items():
            print(f"{k:<18} {v:12.4f} {units[k]:<6} {1 if k in ('setup_s', 'peak_rss_mb') else len(walls)}")
        print(f"{'pass_tail_s':<18} " + (
            f"{tail[1]:12.4f} s      {len(walls)} (p{tail[0]:.1f})" if tail
            else f"{'n/a':>12} s      {len(walls)} (needs >= 11 passes)"
        ))
        print(f"{'failed_frac':<18} {failed / attempted:12.4f} 1      {attempted}")
        print(f"jobs/pass {statistics.median(r['jobs'] for r in ok_passes):.0f}  "
              f"stages/pass {statistics.median(r['stages'] for r in ok_passes):.0f}  "
              f"task_s/pass {statistics.median(r['task_s'] for r in ok_passes):.2f}")
        results = STATE / "results"
        if args.trace:
            prior = results / f"{wl.name}-s{args.seed}.json"
            if prior.exists():
                base = json.loads(prior.read_text())["pass_p50_s"]
                print(f"tracing overhead: traced pass_p50_s {p50:.4f} s vs untraced "
                      f"{base:.4f} s ({100.0 * (p50 - base) / base:+.1f}%)")
            if table is not None:
                print(format_table(table, layer_metrics["plans.pass_task_s"]))
                print("decode sample: " + (", ".join(
                    f"{c} {ms:.3f} ms x{n}" for c, (ms, n) in per_codec.items()
                ) if any(n for _, n in per_codec.values()) else "none (the table holds no bytes)"))
            if layer_metrics:
                metrics = {k: {"value": layer_metrics[k], "unit": u} for k, u in spec["per_layer"].items()}
        else:
            results.mkdir(parents=True, exist_ok=True)
            (results / f"{wl.name}-s{args.seed}.json").write_text(json.dumps(e2e))
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    correct = failed == 0 and bool(walls)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
