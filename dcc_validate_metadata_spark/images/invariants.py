"""Arrow-batched image decode checks (SURVEY.md X5 — graft-added).

The ONLY per-row Python in the engine: one kernel,
``decode_check_violations``, confined to one ``mapInPandas`` over Arrow
batches (capped via ``spark.sql.execution.arrow.maxRecordsPerBatch``
because binary cells inflate batches — SURVEY.md §7.3). It decodes each
row once and emits

* structural checks for every row: bytes decode, decoded dims == declared
  (w, h), container format == declared ``fmt``, and optionally a NULL
  ``bytes`` presence error;
* when a ground-truth table is given, the north-rule invariants: decoded
  pixels PSNR >= ``psnr_min`` dB (lossy) / exact (lossless) and caption
  equality. Ground truth LEFT-joins in by image_id before the Arrow stage
  (presence flagged by ``gt_w``), so rows without a gt record still get
  the structural checks and the invariants fire only where a record exists.

The plan is always scan(bytes) → Exchange hashpartitioning(image_id, n) →
MapInPandas, with ``n`` the session's ``spark.sql.shuffle.partitions``.
Decode CPU per row spans ~4000x between a thumbnail and a 4-Mpix image,
and input splits are sized by bytes, so a size-clustered layout would
otherwise stack the megapixel tail into one task (BENCH.md size-skew
section). ``n`` is explicit because a bare ``repartition(col)`` lets AQE
coalesce this small shuffle back into a few tasks. Arrow batch memory is
bounded independently by ``spark.sql.execution.arrow.maxBytesPerBatch``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..rules import messages as M
from .codec import decode_image, psnr


def _viol_schema(keep: list[str], df: DataFrame) -> str:
    parts = [f"{c} {df.schema[c].dataType.simpleString()}" for c in keep]
    parts += ["field string", "severity string", "message string"]
    return ", ".join(parts)


def decode_check_violations(
    df: DataFrame,
    keep_cols: list[str],
    missing_msg: str | None = None,
    gt: DataFrame | None = None,
    psnr_min: float = 40.0,
) -> DataFrame:
    """Decode violations, one decode per row, as ``keep_cols`` + (field,
    severity, message).

    ``missing_msg``: when set, a NULL ``bytes`` cell emits this
    mandatory-presence error here — the fused column pass must NOT carry
    the presence check, or its scan would read the binary column just for
    ``isNotNull`` (this branch is the only one allowed to scan ``bytes``).
    ``gt``: optional ``(image_id, gt_pixels, gt_w, gt_h, gt_caption)``."""
    keep = list(keep_cols)
    with_gt = gt is not None
    needed = keep + ["image_id", "bytes", "w", "h", "fmt"]
    if with_gt:
        needed.append("caption")
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = df.select(*dict.fromkeys(needed)).repartition(n, "image_id")
    if with_gt:
        src = src.join(
            gt.select("image_id", "gt_pixels", "gt_w", "gt_h", "gt_caption"),
            on="image_id",
            how="left",
        )
    schema = _viol_schema(keep, df)

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # plain-list extraction once per batch: pandas .iloc per row
            # costs more than the decode itself at Arrow batch sizes
            keep_l = {c: b[c].tolist() for c in keep}
            data_l = b["bytes"].tolist()
            w_l, h_l, fmt_l = b["w"].tolist(), b["h"].tolist(), b["fmt"].tolist()
            if with_gt:
                has_gt = b["gt_w"].notna().tolist()
                id_l = b["image_id"].tolist()
                cap_l, gcap_l = b["caption"].tolist(), b["gt_caption"].tolist()
                gw_l, gh_l = b["gt_w"].tolist(), b["gt_h"].tolist()
                gpix_l = b["gt_pixels"].tolist()
            else:
                has_gt = [False] * len(b)
            rows = {c: [] for c in keep}
            fields, sevs, msgs = [], [], []

            def emit(i: int, fld: str, msg: str) -> None:
                for c in keep:
                    rows[c].append(keep_l[c][i])
                fields.append(fld)
                sevs.append("error")
                msgs.append(msg)

            for i, data in enumerate(data_l):
                if has_gt[i] and (cap_l[i] or "") != (gcap_l[i] or ""):
                    emit(i, "caption", M.msg_caption_mismatch(id_l[i]))
                if data is None:
                    if missing_msg is not None:
                        emit(i, "bytes", missing_msg)
                    continue
                try:
                    pix, container = decode_image(bytes(data))
                except Exception as e:  # noqa: BLE001
                    emit(i, "bytes", M.msg_decode_failed(str(e)))
                    continue
                dh, dw = pix.shape[:2]
                w, h = w_l[i], h_l[i]
                if dw != w or dh != h:
                    emit(i, "bytes", M.msg_dims_mismatch(dw, dh, w, h))
                if container != fmt_l[i]:
                    emit(i, "bytes", M.msg_fmt_mismatch(container, fmt_l[i]))
                if not has_gt[i]:
                    continue
                gw, gh = int(gw_l[i]), int(gh_l[i])
                gpix = np.frombuffer(bytes(gpix_l[i]), dtype=np.uint8)
                if gpix.size != gh * gw * 3 or pix.shape != (gh, gw, 3):
                    continue  # dims mismatch already reported above
                p = psnr(pix, gpix.reshape(gh, gw, 3))
                if p < psnr_min:
                    emit(i, "bytes", M.msg_psnr(p, psnr_min))
            out = pd.DataFrame(rows)
            out["field"], out["severity"], out["message"] = fields, sevs, msgs
            yield out

    return src.mapInPandas(check, schema=schema)
