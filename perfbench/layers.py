"""Traced run: spans around each layer's public entry point, called from
the benchmark's own code on the workload's own input, each forced into a
noop sink under its own Spark job group.

Spans are kept in memory (name, start, end, parent, pass id, counters)
and written out as JSON lines when the run ends."""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from workloads import KEEP

# Python (Arrow) operator names as they appear in Spark 4 physical plans
_PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "MapInArrow", "ArrowEvalPython")


class Tracer:
    def __init__(self, spark, stats):
        self.spark = spark
        self.stats = stats
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": pass_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        gid = f"span-{sid}"
        self.spark.sparkContext.setJobGroup(gid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            self.spark.sparkContext.setJobGroup(
                f"span-{self._stack[-1]}" if self._stack else "bench", "bench"
            )
            g = self.stats.group(gid)
            rec.update({k: g[k] for k in ("jobs", "stages", "task_s", "shuffle_write_mb")})

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _container(data: bytes) -> str | None:
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return {b"VP8 ": "webp_vp8", b"VP8L": "webp_vp8l"}.get(data[12:16])
    return None


def decode_ms_per_codec(blobs: list[bytes], seed: int, per_codec: int = 60) -> dict:
    """Single-thread ``decode_image`` ms per row over a seeded sample of
    the workload's bytes, split by container and RIFF chunk."""
    import random

    from dcc_validate_metadata_spark.images.codec import decode_image

    by: dict[str, list[bytes]] = {}
    for b in blobs:
        c = _container(b)
        if c is not None:
            by.setdefault(c, []).append(b)
    rng = random.Random(seed)
    out = {}
    for codec in ("jpeg", "png", "webp_vp8", "webp_vp8l"):
        pool = by.get(codec, [])
        sample = rng.sample(pool, min(per_codec, len(pool)))
        times = []
        for b in sample:
            t0 = time.perf_counter()
            try:
                decode_image(b)
            except ValueError:
                pass  # planted corrupt rows still cost their attempt
            times.append(time.perf_counter() - t0)
        out[codec] = (1000.0 * sum(times) / len(times), len(times)) if times else (0.0, 0)
    return out


def probe_layers(tracer: Tracer, workload, ontology, pass_spans: list[dict]):
    """Per-layer metrics, the rows of the layer table, and the per-codec
    decode sample as ``{codec: (ms_per_row, rows)}``."""
    from dcc_validate_metadata_spark.images.invariants import decode_check_violations
    from dcc_validate_metadata_spark.operators.referential import dangling_ref_violations
    from dcc_validate_metadata_spark.operators.uniqueness import (
        duplicate_keys,
        release_dup_tables,
    )
    from dcc_validate_metadata_spark.plans.pipeline import build_violations
    from dcc_validate_metadata_spark.rules import messages as M
    from dcc_validate_metadata_spark.rules.compiler import violations_for
    from dcc_validate_metadata_spark.rules.model import Ruleset
    from dcc_validate_metadata_spark.sources.image_table import load_image_table
    from sparkstats import shuffle_exchanges

    spark = tracer.spark
    table = str(workload.table)
    rs = workload.ruleset()
    df = load_image_table(spark, table)
    m: dict[str, float] = {}

    with tracer.span("plans.build") as build:
        viol = build_violations(df, ruleset=rs, ontology=ontology)
    python_nodes = sum(
        viol._jdf.queryExecution().executedPlan().toString().count(n)
        for n in _PYTHON_NODES
    )
    with tracer.span("plans.violations") as violations:
        _force(viol)
    release_dup_tables()

    children = []
    if rs.udf_rules:
        with tracer.span("images.decode") as dec:
            _force(decode_check_violations(
                df, KEEP, missing_msg=M.msg_mandatory_missing("bytes")
            ))
        children.append(dec)
    with tracer.span("sources.scan") as scan:
        _force(load_image_table(spark, table).drop("bytes"))
    children.append(scan)
    with tracer.span("sources.scan_bytes") as scan_bytes:
        _force(load_image_table(spark, table))
    row_rs = Ruleset(rs.table, tuple(r for r in rs.row_rules if r.field != "bytes"))
    with tracer.span("rules.row_rules") as rows:
        _force(violations_for(df.drop("bytes"), row_rs, KEEP))
    children.append(rows)
    uniq = {"wall_s": 0.0, "task_s": 0.0, "shuffle_write_mb": 0.0, "name": "operators.uniqueness"}
    exchanges = dup_keys = 0
    for rule in rs.unique_rules:
        dk = duplicate_keys(df, rule.field)
        with tracer.span(f"operators.uniqueness.{rule.field}") as s:
            _force(dk)
        for k in ("wall_s", "task_s", "shuffle_write_mb"):
            uniq[k] += s[k]
        exchanges += shuffle_exchanges(dk)
        dup_keys += dk.count()
    children.append(uniq)
    refs = {"wall_s": 0.0, "task_s": 0.0, "name": "operators.referential"}
    for rule in rs.ref_rules:
        with tracer.span(f"operators.referential.{rule.field}") as s:
            _force(dangling_ref_violations(df, rule.field, ontology, "label", KEEP))
        refs["wall_s"] += s["wall_s"]
        refs["task_s"] += s["task_s"]
    children.append(refs)

    if rs.udf_rules:
        with tracer.span("images.decode_sample"):
            per_codec = decode_ms_per_codec(workload.sample_bytes(), workload.seed)
    else:
        per_codec = {c: (0.0, 0) for c in ("jpeg", "png", "webp_vp8", "webp_vp8l")}

    med = lambda k: statistics.median(s[k] for s in pass_spans)  # noqa: E731
    pass_s, pass_task = med("wall_s"), med("task_s")
    cores = spark.sparkContext.defaultParallelism
    dec_s = dec["wall_s"] if rs.udf_rules else 0.0
    dec_task = dec["task_s"] if rs.udf_rules else 0.0
    for codec, (ms, _n) in per_codec.items():
        m[f"images.decode_ms.{codec}"] = ms
    m.update({
        "images.decode_s": dec_s,
        "images.decode_task_s": dec_task,
        "images.decode_share": dec_task / pass_task if pass_task else 0.0,
        "images.decode_nodes": python_nodes,
        "sources.scan_s": scan["wall_s"],
        "sources.scan_task_s": scan["task_s"],
        "sources.scan_bytes_s": scan_bytes["wall_s"],
        "rules.row_rules_s": rows["wall_s"],
        "rules.row_rules_task_s": rows["task_s"],
        "operators.uniqueness_s": uniq["wall_s"],
        "operators.uniqueness_task_s": uniq["task_s"],
        "operators.uniqueness_shuffle_mb": uniq["shuffle_write_mb"],
        "operators.uniqueness_exchanges": exchanges,
        "operators.dup_keys": dup_keys,
        "operators.referential_s": refs["wall_s"],
        "plans.pass_s": pass_s,
        "plans.pass_task_s": pass_task,
        "plans.build_s": build["wall_s"],
        "plans.violations_s": violations["wall_s"],
        "plans.violations_task_s": violations["task_s"],
        "plans.commit_s": pass_s - violations["wall_s"],
        "plans.violation_rows": statistics.median(s["violation_rows"] for s in pass_spans),
        "plans.spark_jobs": statistics.median(s["jobs"] for s in pass_spans),
        "plans.spark_stages": statistics.median(s["stages"] for s in pass_spans),
        "plans.serial_s": pass_s - pass_task / cores,
    })

    # layer table: the pass split into build, violations (with its
    # separately forced children and their remainder) and what is left
    # after both; plans.commit_s above is pass - violations, build included
    table_rows = [("pass (median of traced passes)", 0, pass_s, pass_task)]
    table_rows.append(("plans.build", 1, build["wall_s"], build["task_s"]))
    table_rows.append(("plans.violations", 1, violations["wall_s"], violations["task_s"]))
    for c in children:
        table_rows.append((c["name"], 2, c["wall_s"], c["task_s"]))
    table_rows.append((
        "unattributed in violations (shared scans make it < 0)", 2,
        violations["wall_s"] - sum(c["wall_s"] for c in children),
        violations["task_s"] - sum(c["task_s"] for c in children),
    ))
    table_rows.append((
        "remainder after build + violations (write, verdicts, manifest)", 1,
        pass_s - build["wall_s"] - violations["wall_s"],
        pass_task - build["task_s"] - violations["task_s"],
    ))
    return m, table_rows, per_codec


def format_table(rows, pass_task: float) -> str:
    lines = [f"{'layer':<58} {'wall_s':>8} {'task_s':>8} {'task share':>10}"]
    for name, depth, wall, task in rows:
        share = f"{100.0 * task / pass_task:9.1f}%" if pass_task else "       n/a"
        lines.append(f"{'  ' * depth + name:<58} {wall:8.3f} {task:8.3f} {share}")
    return "\n".join(lines)
