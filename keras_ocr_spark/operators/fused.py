"""Stages 2+3: per-row blank drop + ordered reassembly via higher-order functions.

The reference's flatten-then-re-slice strategy (``recognition.py:504-537``)
maps onto Spark as explode -> decode -> per-(conv_id, turn_idx)
collect_list. That groupBy has ~one GROUP PER ROW, which drives Spark's
ObjectHashAggregate into sort-based fallback and a GC storm at scale
(measured: >80% of map-stage core-time in GC at 1.4M turns).

The insight: a turn's spans already sit TOGETHER in one array cell in
document order, each carrying its decoded text from stage 1
(``operators/detect.py``) — re-associating them needs no shuffle at all.
This module reassembles inside the row:

    kept       = filter(spans, d -> length(d.clean) > 0)   -- blank drop
    clean_text = array_join(transform(kept, d -> d.clean), '\n')
    spans      = transform(kept, d -> struct(d.start, d.end))

making the WHOLE pipeline map-only: scan -> stage-1 pandas UDF -> this
projection. Zero exchanges, zero aggregation state; scales exactly like
the scan. It is the only reassembly: batch (``plans.pipeline.extract``)
and streaming (``streaming/extract_stream.py``) both end here, and the
result equals ``core.oracle.extract_turn`` frame-for-frame
(tests/test_parity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def decode_reassemble_fused(detected: DataFrame) -> DataFrame:
    """detect() output -> (conv_id, turn_idx, clean_text, spans), per-row.

    The span struct carries ``clean`` from the stage-1 kernel (one
    C-regex decode in the worker that already holds the string), so this
    stage is a pure filter + join."""
    kept = F.filter("spans", lambda d: F.length(d["clean"]) > 0)
    staged = detected.select("conv_id", "turn_idx", kept.alias("_kept"))
    return staged.select(
        "conv_id",
        "turn_idx",
        F.array_join(F.transform("_kept", lambda d: d["clean"]), "\n").alias("clean_text"),
        F.transform("_kept", lambda d: F.struct(d["start"].alias("start"), d["end"].alias("end"))).alias("spans"),
    )
