"""Benchmark workloads: seeded inputs, one validation pass, output checks.

Inputs are a pure function of (workload, seed, content version). A
prepare step (``prepare.py``, a process of its own with no JVM)
generates the table, the ontology snapshot and the expected output once
per key and caches them under ``<cache>/<workload>-s<seed>-v<ver>``; the
measured session only reads those files, and the engine only ever sees
the generated inputs. Tables are hive-partitioned by (fmt, bucket) with
one parquet file per partition directory, the layout the engine's
``generate_image_fixture`` writes.

* ``images-validate`` — the CLI ``validate`` path over a content-v9
  image+caption table from the engine's own fixture row generator (the
  rows ``generate_image_table_distributed`` writes); expected
  violation rows come from the fixture's independent golden
  (``_expected_for_rows``, pure-Python rule semantics and decode).
* ``rules-dedup`` — the same schema with ``bytes`` null, generated here
  with numpy; a duplicate-heavy key mix (duplicated ids, one
  hot phash, many small phash groups) validated without the decode rule.
  Expected per-(field, severity) counts come from a DuckDB replay of the
  rule semantics over the generated files.
"""

from __future__ import annotations

import json
import shutil
import zlib
from dataclasses import dataclass
from pathlib import Path

KEEP = ["fmt", "bucket", "image_id"]
N_BUCKETS = 8
# processes that encode the image table's rows
N_PROCS = 4

IMAGES_ROWS = 1_000
IMAGES_HW = 32
RULES_ROWS = 100_000
# bump when the rules-dedup generator's output changes
RULES_GEN_VERSION = 3

_WORDS = (
    "holstein cattle graze upland pasture sunrise over fjord trawler nets "
    "gleam market stalls carry ripe figs drummers rehearse beneath neon"
).split()


def _image_rows(lo: int, hi: int, seed: int):
    """Rows ``lo..hi`` of the content-v9 image table, made by the same
    per-row generator ``generate_image_table_distributed`` runs in its
    tasks."""
    from dcc_validate_metadata_spark.sources.image_table import _gen_row, _rows_to_pdf

    return _rows_to_pdf([_gen_row(i, seed, N_BUCKETS, hw=IMAGES_HW) for i in range(lo, hi)])


def _ontology_rows():
    from dcc_validate_metadata_spark.sources.image_table import ontology_terms_rows

    return ontology_terms_rows()


def _write_ontology(path: Path) -> None:
    import pandas as pd

    pd.DataFrame(
        _ontology_rows(), columns=["term", "label", "ontology_name", "parent_term"]
    ).to_parquet(path, index=False)


def _write_table(pdf, path: Path) -> None:
    """Write a pandas frame as a hive-partitioned (fmt, bucket) parquet
    table, one file per partition directory."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([("fmt", pa.string()), ("bucket", pa.int32())]), flavor="hive")
    ds.write_dataset(
        pa.Table.from_pandas(pdf, preserve_index=False), str(path), format="parquet",
        partitioning=part, basename_template="part-{i}.parquet",
    )


def _read_violations(out_dir: Path):
    """Violation rows of one pass as an Arrow table, read without Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(
        str(out_dir / "violations"), format="parquet", partitioning="hive"
    ).to_table(columns=["fmt", "bucket", "image_id", "field", "severity", "message"])


@dataclass
class PassCheck:
    ok: bool
    violation_rows: int
    detail: str = ""


class Workload:
    name: str
    n_rows: int
    version: str

    def __init__(self, state: Path, seed: int):
        self.seed = seed
        self.dir = state / "cache" / f"{self.name}-s{seed}-v{self.version}"
        self.table = self.dir / "table"
        self.ontology_path = self.dir / "ontology.parquet"

    # -- inputs (prepare step) -----------------------------------------------
    def ready(self) -> bool:
        return (self.dir / "_READY").exists()

    def prepare(self) -> None:
        """Write the table, the ontology and the expected output; the
        ``_READY`` marker goes last, so an interrupted prepare is redone."""
        shutil.rmtree(self.dir, ignore_errors=True)
        self.dir.mkdir(parents=True)
        _write_ontology(self.ontology_path)
        _write_table(self._generate(), self.table)
        self._compute_expected()
        (self.dir / "_READY").write_text(json.dumps({"workload": self.name, "seed": self.seed}))

    def _generate(self):
        """The table as one pandas frame."""
        raise NotImplementedError

    def _compute_expected(self) -> None:
        raise NotImplementedError

    def ruleset(self):
        from dcc_validate_metadata_spark.rules.model import default_image_ruleset

        return default_image_ruleset()

    def ontology(self, spark):
        return spark.read.parquet(str(self.ontology_path))

    # -- one pass ------------------------------------------------------------
    def run_pass(self, spark, out_dir: Path, ontology):
        from dcc_validate_metadata_spark.plans.pipeline import run_validation

        return run_validation(
            spark, str(self.table), str(out_dir),
            ruleset=self.ruleset(), ontology=ontology, gt=None, resume=False,
        )

    def check(self, result, out_dir: Path) -> PassCheck:
        raise NotImplementedError

    @staticmethod
    def _check_verdicts(result, n_errors: int, n_warnings: int) -> str:
        rows = result.verdict_rows or []
        e = sum(int(r["n_errors"]) for r in rows)
        w = sum(int(r["n_warnings"]) for r in rows)
        if (e, w) != (n_errors, n_warnings):
            return f"verdict totals (errors, warnings) {(e, w)} != {(n_errors, n_warnings)}"
        return ""


class ImagesValidate(Workload):
    name = "images-validate"
    n_rows = IMAGES_ROWS

    def __init__(self, state: Path, seed: int):
        from dcc_validate_metadata_spark.sources.image_table import CONTENT_VERSION

        self.version = f"{CONTENT_VERSION}-n{self.n_rows}-hw{IMAGES_HW}-b{N_BUCKETS}"
        super().__init__(state, seed)
        self.expected_path = self.dir / "expected_violations.parquet"
        self._expected = None

    def _generate(self):
        from multiprocessing import Pool

        import pandas as pd

        bounds = [self.n_rows * t // N_PROCS for t in range(N_PROCS + 1)]
        with Pool(N_PROCS) as pool:
            parts = pool.starmap(_image_rows, [(lo, hi, self.seed) for lo, hi in zip(bounds, bounds[1:])])
        return pd.concat(parts, ignore_index=True)

    def _compute_expected(self) -> None:
        from dcc_validate_metadata_spark.sources.image_table import _expected_for_rows, _Row

        # golden over the rows exactly as stored; no ground truth is given
        # to the pass, so the rows carry none (gt_caption == caption keeps
        # the caption invariant silent, gt_pixels=None the PSNR one)
        t = self._read_table()
        rows = [
            _Row(
                idx=i, image_id=r["image_id"], data=r["bytes"], w=r["w"],
                h=r["h"], fmt=r["fmt"], caption=r["caption"], phash=r["phash"],
                bucket=r["bucket"], gt_pixels=None, gt_caption=r["caption"],
            )
            for i, r in enumerate(t.to_pylist())
        ]
        labels = {label.lower() for _, label, _, _ in _ontology_rows()}
        _expected_for_rows(rows, labels).to_parquet(self.expected_path, index=False)

    def _read_table(self):
        import pyarrow.dataset as ds

        return ds.dataset(
            str(self.table), format="parquet", partitioning="hive"
        ).to_table().sort_by("image_id")

    def sample_bytes(self) -> list[bytes]:
        return [b for b in self._read_table().column("bytes").to_pylist() if b]

    def expected(self) -> list[tuple]:
        if self._expected is None:
            import pandas as pd

            e = pd.read_parquet(self.expected_path)
            self._expected = sorted(
                (f, int(b), i, fl, s, m)
                for f, b, i, fl, s, m in e.itertuples(index=False)
            )
        return self._expected

    def check(self, result, out_dir: Path) -> PassCheck:
        got = _read_violations(out_dir).to_pylist()
        got = sorted(
            (r["fmt"], int(r["bucket"]), r["image_id"], r["field"], r["severity"], r["message"])
            for r in got
        )
        want = self.expected()
        n = len(got)
        if result.n_rows != self.n_rows:
            return PassCheck(False, n, f"rows_validated {result.n_rows} != {self.n_rows}")
        if got != want:
            missing = sorted(set(want) - set(got))[:3]
            extra = sorted(set(got) - set(want))[:3]
            return PassCheck(
                False, n,
                f"{n} violation rows vs {len(want)} expected; "
                f"missing {missing} extra {extra}",
            )
        errs = sum(1 for r in want if r[4] == "error")
        bad = self._check_verdicts(result, errs, len(want) - errs)
        return PassCheck(not bad, n, bad)


class RulesDedup(Workload):
    name = "rules-dedup"
    n_rows = RULES_ROWS

    def __init__(self, state: Path, seed: int):
        self.version = f"r{RULES_GEN_VERSION}-n{self.n_rows}-b{N_BUCKETS}"
        super().__init__(state, seed)
        self.expected_path = self.dir / "expected_counts.json"
        self._expected = None

    def ruleset(self):
        from dcc_validate_metadata_spark.rules.model import Ruleset

        rs = super().ruleset()
        return Ruleset(rs.table, tuple(r for r in rs.rules if r.field != "bytes"))

    def _generate(self):
        import numpy as np
        import pandas as pd

        from dcc_validate_metadata_spark.rules.constants import MISSING_TOKENS

        n = self.n_rows
        rng = np.random.default_rng(self.seed)
        idx = np.arange(n)
        cls_id, cls_ph, fmt_u, cap_u, w_u, h_u = (rng.integers(0, m, n) for m in (10_000, 10_000, 1000, 1000, 1000, 1000))
        # ~3% take the previous row's id; ~1% carry an unsafe space
        num = np.where((cls_id < 300) & (idx > 0), idx - 1, idx)
        image_id = [
            f"img {i:012d}" if 300 <= c < 400 else f"img{i:012d}" for i, c in zip(num, cls_id)
        ]
        # one phash value on a fifth of the rows; another fifth in groups
        # of up to four consecutive rows; the rest distinct
        group = rng.integers(0, 2**63, n // 4 + 1)
        phash = np.where(
            cls_ph < 2000, int(rng.integers(0, 2**63)),
            np.where(cls_ph < 4000, group[idx // 4], rng.integers(0, 2**63, n)),
        )
        fmt = np.select([fmt_u < 800, fmt_u < 950, fmt_u < 990], ["jpeg", "png", "webp"], "bmp")
        words = np.array(_WORDS)[rng.integers(0, len(_WORDS), (n, 4))]
        token = rng.integers(0, len(MISSING_TOKENS), n)
        caption = [
            None if c < 10 else "  " if c < 20 else MISSING_TOKENS[t] if c < 40
            else "x" * 600 if c < 50 else " ".join(ws)
            for c, t, ws in zip(cap_u, token, words)
        ]
        return pd.DataFrame({
            "image_id": image_id,
            "bytes": pd.Series([None] * n, dtype=object),
            "w": np.where(w_u < 10, -1, 32).astype("int32"),
            "h": np.where(h_u < 5, 0, 32).astype("int32"),
            "fmt": fmt,
            "caption": caption,
            "phash": phash.astype("int64"),
            "bucket": np.array([zlib.crc32(i.encode()) % N_BUCKETS for i in image_id], dtype="int32"),
        })

    def _compute_expected(self) -> None:
        self.expected_path.write_text(json.dumps(self._replay()))

    def _replay(self) -> dict:
        """Per-(field, severity) violation counts of the no-decode image
        ruleset, recomputed with DuckDB SQL from the rule semantics."""
        import duckdb

        from dcc_validate_metadata_spark.rules.constants import (
            MISSING_VALUES,
            SAFE_NAME_PATTERN,
        )

        labels = sorted({label.lower() for _, label, _, _ in _ontology_rows()})

        def lst(xs):
            return "(" + ", ".join("'" + x.replace("'", "''") + "'" for x in xs) + ")"

        def present(c, is_str):
            return f"({c} IS NOT NULL AND trim({c}) <> '')" if is_str else f"({c} IS NOT NULL)"

        mand = MISSING_VALUES["mandatory"]
        rec = MISSING_VALUES["recommended"]
        checks = []  # (field, severity, SQL predicate over t)
        for c, is_str in (("image_id", True), ("w", False), ("h", False),
                          ("fmt", True), ("phash", False)):
            checks.append((c, "error", f"NOT {present(c, is_str)}"))
            if is_str:
                tok = f"lower(trim({c}))"
                checks.append((c, "error", f"{present(c, True)} AND {tok} IN {lst(mand['errors'])}"))
                checks.append((c, "warning", f"{present(c, True)} AND {tok} IN {lst(mand['warnings'])}"))
        checks += [
            ("image_id", "error", f"{present('image_id', True)} AND NOT regexp_matches(image_id, '{SAFE_NAME_PATTERN}')"),
            ("image_id", "error", "image_id IN (SELECT image_id FROM t WHERE image_id IS NOT NULL GROUP BY 1 HAVING count(*) > 1)"),
            ("phash", "error", "phash IN (SELECT phash FROM t WHERE phash IS NOT NULL GROUP BY 1 HAVING count(*) > 1)"),
            ("w", "error", "w IS NOT NULL AND (w < 1 OR w > 65536)"),
            ("h", "error", "h IS NOT NULL AND (h < 1 OR h > 65536)"),
            ("fmt", "error", f"{present('fmt', True)} AND fmt NOT IN ('png', 'jpeg', 'webp')"),
            ("fmt", "error", f"fmt IS NOT NULL AND lower(fmt) NOT IN {lst(labels)}"),
            ("caption", "warning", f"NOT {present('caption', True)}"),
            ("caption", "warning", f"{present('caption', True)} AND lower(trim(caption)) IN {lst(rec['warnings'])}"),
            ("caption", "error", f"{present('caption', True)} AND length(caption) > 512"),
        ]
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE t AS SELECT image_id, w, h, fmt, caption, phash "
                f"FROM read_parquet('{self.table}/*/*/*.parquet', hive_partitioning = true)"
            )
            sql = " UNION ALL ".join(
                f"SELECT '{f}' AS field, '{s}' AS severity, count(*) AS n FROM t WHERE {p}"
                for f, s, p in checks
            )
            counts: dict[str, int] = {}
            for f, s, n in con.execute(sql).fetchall():
                counts[f"{f}/{s}"] = counts.get(f"{f}/{s}", 0) + int(n)
        finally:
            con.close()
        return {k: v for k, v in sorted(counts.items()) if v}

    def expected(self) -> dict:
        if self._expected is None:
            self._expected = json.loads(self.expected_path.read_text())
        return self._expected

    def check(self, result, out_dir: Path) -> PassCheck:
        import pyarrow.compute as pc

        t = _read_violations(out_dir)
        keys = pc.binary_join_element_wise(t.column("field"), t.column("severity"), "/")
        got = {
            r["values"]: int(r["counts"])
            for r in pc.value_counts(keys).to_pylist()
        }
        want = self.expected()
        n = t.num_rows
        if result.n_rows != self.n_rows:
            return PassCheck(False, n, f"rows_validated {result.n_rows} != {self.n_rows}")
        if got != want:
            return PassCheck(False, n, f"counts {got} != expected {want}")
        errs = sum(v for k, v in want.items() if k.endswith("/error"))
        bad = self._check_verdicts(result, errs, n - errs)
        return PassCheck(not bad, n, bad)


WORKLOADS = {w.name: w for w in (ImagesValidate, RulesDedup)}
