"""Golden end-to-end test: the engine's violation rows and per-partition
verdicts must EXACTLY match the fixture generator's independently computed
expectations (violation-row exactness target, BASELINE.json `metric`)."""

from __future__ import annotations

import pandas as pd
import pytest

from dcc_validate_metadata_spark.plans.pipeline import (
    build_verdicts,
    build_violations,
    run_validation,
)
from dcc_validate_metadata_spark.sources.image_table import load_image_table

VIOL_COLS = ["fmt", "bucket", "image_id", "field", "severity", "message"]


def _norm(pdf: pd.DataFrame, cols) -> pd.DataFrame:
    return (
        pdf[list(cols)]
        .astype({"bucket": "int64"})
        .sort_values(list(cols))
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def run(spark, fixture_dir):
    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    gt = spark.read.parquet(str(fixture_dir / "image_caption_gt.parquet"))
    df = load_image_table(spark, fixture_dir / "image_caption")
    violations = build_violations(df, ontology=ontology, gt=gt).toPandas()
    verdicts = build_verdicts(df, build_violations(df, ontology=ontology, gt=gt)).toPandas()
    expected_v = pd.read_parquet(fixture_dir / "expected_violations.parquet")
    expected_d = pd.read_parquet(fixture_dir / "expected_verdicts.parquet")
    return violations, verdicts, expected_v, expected_d


def test_violation_rows_exact(run):
    got, _, exp, _ = run
    g = _norm(got, VIOL_COLS)
    e = _norm(exp, VIOL_COLS)
    if not g.equals(e):
        merged = g.merge(e, how="outer", indicator=True)
        diff = merged[merged["_merge"] != "both"]
        raise AssertionError(f"violation mismatch ({len(diff)} rows):\n{diff.head(30)}")


def test_verdicts_exact(run):
    _, got, _, exp = run
    cols = ["fmt", "bucket", "pass", "n_errors", "n_warnings"]
    g = _norm(got, cols)
    e = _norm(exp, cols)
    pd.testing.assert_frame_equal(g, e, check_dtype=False)


def test_run_validation_writes_and_resumes(spark, fixture_dir, tmp_path):
    out = tmp_path / "valout"
    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    r1 = run_validation(
        spark, str(fixture_dir / "image_caption"), str(out), ontology=ontology
    )
    assert r1.n_rows == 1000
    assert r1.skipped_partitions == 0
    written = spark.read.parquet(str(out / "violations"))
    assert written.count() > 0
    # resume: everything done → zero rows scanned, all partitions skipped
    r2 = run_validation(
        spark, str(fixture_dir / "image_caption"), str(out), ontology=ontology
    )
    assert r2.n_rows == 0
    assert r2.skipped_partitions == r1.verdicts.count()


def test_gtless_violation_rows_exact(spark, fixture_dir):
    """Without ground truth the decode kernel skips the gt join: structural
    checks only, no caption/PSNR invariant rows. Expected rows are the
    fixture golden recomputed over the stored rows with no gt record."""
    import pyarrow.dataset as ds

    from dcc_validate_metadata_spark.sources.image_table import (
        _expected_for_rows,
        _Row,
        ontology_terms_rows,
    )

    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    df = load_image_table(spark, fixture_dir / "image_caption")
    got = build_violations(df, ontology=ontology).toPandas()

    table = ds.dataset(
        str(fixture_dir / "image_caption"), format="parquet", partitioning="hive"
    ).to_table()
    rows = [
        _Row(
            idx=i, image_id=r["image_id"], data=r["bytes"], w=r["w"],
            h=r["h"], fmt=r["fmt"], caption=r["caption"], phash=r["phash"],
            bucket=r["bucket"], gt_pixels=None, gt_caption=r["caption"],
        )
        for i, r in enumerate(table.to_pylist())
    ]
    labels = {label.lower() for _, label, _, _ in ontology_terms_rows()}
    exp = _expected_for_rows(rows, labels)
    g = _norm(got, VIOL_COLS)
    e = _norm(exp, VIOL_COLS)
    assert (e["field"] == "bytes").any()
    pd.testing.assert_frame_equal(g, e)
