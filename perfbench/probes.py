"""Per-layer probes for the traced run. Each probe calls one layer's
public functions from outside the program and times an action that
forces only that layer (a ``noop`` sink, a count or a collect)."""

from __future__ import annotations

import statistics
import time
from pathlib import Path

from pyspark.sql import functions as F

from keras_ocr_spark.config import DEFAULT_CONFIG
from keras_ocr_spark.core.decoder import decode_text
from keras_ocr_spark.core.proposal import propose_spans
from keras_ocr_spark.core.tokenizer import tokenize
from keras_ocr_spark.driver_queries import QUERIES
from keras_ocr_spark.operators import dedup as D
from keras_ocr_spark.operators.clusters import leakage_safe_split
from keras_ocr_spark.operators.curation import token_budget_mix
from keras_ocr_spark.operators.detect import detect, salt_expr
from keras_ocr_spark.operators.fused import decode_reassemble_fused
from keras_ocr_spark.operators.textstats import curation_features
from keras_ocr_spark.plans.checkpoint import pending_plan, read_committed, read_manifests, run_with_checkpoints

from workloads import N_BUCKETS, N_SALT

CORE_SAMPLE = 4_000
CORE_REPS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn):
    with tracer.span("probe." + name):
        t = time.perf_counter()
        out = fn()
        return time.perf_counter() - t, out


def _persisted(df):
    """Persist and force ``df``, so a probe's timing covers building the
    plan (which may run eager jobs) and computing it, and later stages
    read the result instead of recomputing it."""
    df = df.persist()
    df.count()
    return df


def _max_over_median(values) -> float:
    values = list(values)
    return max(values) / statistics.median(values) if values and statistics.median(values) > 0 else 0.0


def core_probes(tracer, frame, seed: int) -> dict:
    """Single-process kernel timings on a seeded sample of the turns."""
    cap = DEFAULT_CONFIG.max_len
    sample = [t[:cap] for t in frame["text"].sample(min(CORE_SAMPLE, len(frame)), random_state=seed)]
    tok, prop, dec = [], [], []
    for _ in range(CORE_REPS):
        with tracer.span("probe.core.tokenize"):
            t = time.perf_counter()
            nodes = [tokenize(s) for s in sample]
            tok.append(time.perf_counter() - t)
        with tracer.span("probe.core.propose_spans"):
            t = time.perf_counter()
            spans = [propose_spans(n, len(s), DEFAULT_CONFIG) for n, s in zip(nodes, sample)]
            prop.append(time.perf_counter() - t)
        with tracer.span("probe.core.decode_text"):
            t = time.perf_counter()
            for s, sp in zip(sample, spans):
                for x in sp:
                    decode_text(s[x.start : x.end])
            dec.append(time.perf_counter() - t)
    n, n_spans = len(sample), sum(map(len, spans))
    tok_s, prop_s, dec_s = (statistics.median(x) for x in (tok, prop, dec))
    return {
        "core.tokenize_us_per_turn": tok_s / n * 1e6,
        "core.propose_us_per_turn": prop_s / n * 1e6,
        "core.decode_us_per_span": dec_s / max(n_spans, 1) * 1e6,
        "core.nodes_per_turn": sum(map(len, nodes)) / n,
        "core.spans_per_turn": n_spans / n,
        "core.kernel_us_per_turn": (tok_s + prop_s + dec_s) / n * 1e6,
    }


def extract_probes(tracer, spark, inputs, kernel_us_per_turn: float, cores: int) -> dict:
    src = str(inputs.transcripts)

    def slim():
        return spark.read.parquet(src).select("conv_id", "turn_idx", "text")

    scan_s, _ = _timed(tracer, "sources.scan", lambda: _noop(slim()))
    detect_s, _ = _timed(tracer, "operators.detect", lambda: _noop(detect(slim())))
    # Rows per shuffle partition of detect()'s salted repartition, before
    # AQE coalesces them: the exchange's own hash partitioning, recomputed.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = F.pmod(F.hash(F.col("conv_id"), salt_expr(N_SALT)), F.lit(n_parts))
    parts = slim().groupBy(part.alias("p")).count().collect()
    detected = detect(slim()).persist()
    _noop(detected)
    fused_s, _ = _timed(tracer, "operators.fused", lambda: _noop(decode_reassemble_fused(detected)))
    detected.unpersist(blocking=True)
    kernel_s = kernel_us_per_turn * inputs.turns / 1e6
    return {
        "sources.scan_s": scan_s,
        "detect.s": detect_s,
        "detect.kernel_share": kernel_s / (detect_s * cores),
        "detect.salted_partition_rows_max_over_median": _max_over_median(r["count"] for r in parts),
        "fused.s": fused_s,
    }


def _tree_bytes(path: Path) -> tuple:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def checkpoint_probes(tracer, spark, inputs) -> dict:
    src, out = str(inputs.transcripts), inputs.workdir / "probe-ckpt"
    buckets = list(range(N_BUCKETS))
    compute_s, _ = _timed(
        tracer,
        "checkpoint.pending_plan",
        lambda: _noop(pending_plan(spark, src, buckets, N_BUCKETS, DEFAULT_CONFIG, N_SALT)),
    )
    run_s, _ = _timed(
        tracer, "checkpoint.run", lambda: run_with_checkpoints(spark, src, str(out), N_BUCKETS, n_salt=N_SALT)
    )
    n_files, n_bytes = _tree_bytes(out)
    _, in_bytes = _tree_bytes(inputs.transcripts)
    read_s, _ = _timed(tracer, "checkpoint.read_committed", lambda: _noop(read_committed(spark, str(out))))
    resume_s, summary = _timed(
        tracer, "checkpoint.resume", lambda: run_with_checkpoints(spark, src, str(out), N_BUCKETS, n_salt=N_SALT)
    )
    if summary["buckets_run"]:
        raise RuntimeError(f"resume recomputed committed buckets: {summary}")
    rows = [m["rows"] for m in read_manifests(str(out))]
    return {
        "checkpoint.compute_s": compute_s,
        "checkpoint.run_s": run_s,
        "checkpoint.commit_share": (run_s - compute_s) / run_s,
        "checkpoint.bytes_written_per_input_byte": n_bytes / in_bytes,
        "checkpoint.files_written": n_files,
        "checkpoint.read_committed_s": read_s,
        "checkpoint.resume_noop_s": resume_s,
        "checkpoint.bucket_rows_max_over_median": _max_over_median(rows),
    }


def curate_probes(tracer, spark, docs_dir: Path) -> dict:
    """The curate_corpus stages one at a time, composed the way the
    registered query composes them, plus the job and stage counts of
    one whole query run."""
    docs = spark.read.parquet(str(docs_dir / "documents.parquet"))
    docs = _persisted(docs.repartition(spark.sparkContext.defaultParallelism))
    n_docs = docs.count()

    minhash_s, sigs = _timed(tracer, "dedup.minhash_signatures", lambda: _persisted(D.minhash_signatures(docs)))
    n_cands = D.lsh_candidate_pairs(sigs, 4, 4, max_bucket_size=10_000).count()
    pairs_s, pairs = _timed(
        tracer, "dedup.minhash_dedup_pairs", lambda: _persisted(D.minhash_dedup_pairs(docs, threshold=0.5))
    )
    split_s, split = _timed(
        tracer, "clusters.leakage_safe_split", lambda: _persisted(leakage_safe_split(docs, pairs, id_col="doc_id"))
    )
    keepers = split.filter(F.col("id") == F.col("keeper_id"))
    surv = _persisted(keepers.join(curation_features(docs), "id").filter(F.col("quality") >= 0.5))
    surv_docs = _persisted(docs.join(surv.select(F.col("id").alias("doc_id")), "doc_id"))
    substring_s, subs = _timed(
        tracer, "dedup.substring_dup_stats", lambda: _persisted(D.substring_dup_stats(surv_docs, k=5))
    )
    gated = _persisted(
        surv.join(subs.select("id", "dup_frac"), "id")
        .filter((F.col("dup_frac") <= 0.5) & (F.col("split") == "train"))
        .select("id", "n_bpe_tokens")
    )
    lang = docs.select(F.col("doc_id").alias("id"), "lang")
    mix = token_budget_mix(
        gated.join(lang, "id"), {"en": 3000}, default_budget=1000, id_col="id", tokens_col=F.col("n_bpe_tokens")
    )
    mix_s, n_mixed = _timed(tracer, "curation.token_budget_mix", mix.count)
    n_pairs = pairs.count()
    funnel = {
        "curate.docs_in": n_docs,
        "curate.keepers": keepers.count(),
        "curate.survivors": surv.count(),
        "curate.gated": gated.count(),
        "curate.mixed": n_mixed,
    }
    for df in (gated, subs, surv_docs, surv, split, pairs, sigs, docs):
        df.unpersist(blocking=True)

    sc = spark.sparkContext
    sc.setJobGroup("perfbench-curate", "curate_corpus")
    try:
        with tracer.span("probe.driver_queries.curate_corpus"):
            n_query = len(QUERIES["curate_corpus"][0](spark, str(docs_dir)).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("perfbench-curate")
    stages = sum(len(sc.statusTracker().getJobInfo(j).stageIds) for j in jobs)
    return {
        "dedup.minhash_s": minhash_s,
        "dedup.pairs_s": pairs_s,
        "dedup.lsh_candidates": n_cands,
        "dedup.verified_pairs": n_pairs,
        "dedup.lsh_precision": n_pairs / n_cands if n_cands else 0.0,
        "clusters.split_s": split_s,
        "dedup.substring_s": substring_s,
        "curation.mix_s": mix_s,
        **funnel,
        "curate.jobs": len(jobs),
        "curate.stages": stages,
        "curate.query_rows": n_query,
    }
