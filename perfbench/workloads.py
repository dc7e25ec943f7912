"""The three benchmark workloads. Each has one op (what a client submits
and waits for), an oracle computed once per run outside timing, and a
check of every op's output against that oracle. ``op`` returns what it
observed; ``check`` compares that with the oracle outside the timing."""

from __future__ import annotations

import math
import shutil
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from keras_ocr_spark.core.oracle import extract_turn
from keras_ocr_spark.driver_queries import QUERIES
from keras_ocr_spark.plans.checkpoint import read_committed, read_manifests, run_with_checkpoints
from keras_ocr_spark.plans.pipeline import extract

from inputs import Inputs, chat_inputs, curate_inputs, html_inputs

EXTRACT_SCHEMA = "conv_id string, turn_idx int, clean_text string, spans array<struct<start:int,end:int>>"
#: how scripts/extract_job.py configures the checkpointed job
N_BUCKETS, N_SALT = 8, 8


def extract_oracle(frame: pd.DataFrame) -> pd.DataFrame:
    """Per-turn output of the single-process reference ``extract_turn``."""
    out = [extract_turn(t) for t in frame["text"]]
    return pd.DataFrame(
        {
            "conv_id": frame["conv_id"].to_numpy(),
            "turn_idx": frame["turn_idx"].to_numpy(),
            "clean_text": [o.clean_text for o in out],
            "spans": [[{"start": s.start, "end": s.end} for s in o.spans] for o in out],
        }
    )


def output_digest(df) -> tuple:
    """(rows, bit_xor of xxhash64 over every output column): an
    order-independent digest of an extract output frame."""
    r = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("conv_id", "turn_idx", "clean_text", "spans")), F.lit(0)).alias("x"),
    ).collect()[0]
    return int(r["n"]), int(r["x"])


def content_digest(df) -> tuple:
    """(rows, bit_xor of the checkpoint manifests' per-row content hash)."""
    sig = F.xxhash64(F.concat_ws("\x1e", "conv_id", "turn_idx", "clean_text"))
    r = df.agg(F.count("*").alias("n"), F.coalesce(F.bit_xor(sig), F.lit(0)).alias("x")).collect()[0]
    return int(r["n"]), int(r["x"])


def _turn_key(frame: pd.DataFrame) -> dict:
    return {
        (c, int(t)): (txt, tuple((int(s["start"]), int(s["end"])) for s in spans))
        for c, t, txt, spans in zip(frame["conv_id"], frame["turn_idx"], frame["clean_text"], frame["spans"])
    }


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Full per-turn comparison of an extract output with the oracle."""
    return len(got) == len(want) and _turn_key(got) == _turn_key(want)


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


class ExtractHtml:
    """``plans.pipeline.extract`` over browse/tool HTML turns into an
    aggregating sink: no shuffle, no write."""

    name = "extract_html"
    n_turns = 12_000
    min_ops = 3

    def generate(self, seed: int, workdir: Path) -> Inputs:
        return html_inputs(seed, workdir, self.n_turns)

    def prepare(self, inputs: Inputs) -> None:
        self.inputs = inputs
        self.oracle = extract_oracle(inputs.frame)

    def bind(self, spark) -> None:
        """Digest the oracle frame with the same Spark hash the op uses."""
        self.expected = output_digest(spark.createDataFrame(self.oracle, EXTRACT_SCHEMA))

    def op(self, spark, tracer, i):
        with tracer.span("pipeline.extract"):
            out = extract(spark.read.parquet(str(self.inputs.transcripts)))
        with tracer.span("sink.digest"):
            return output_digest(out)

    def check(self, got) -> bool:
        return got == self.expected

    def cleanup(self, i) -> None:
        pass

    def full_check(self, spark) -> bool:
        got = extract(spark.read.parquet(str(self.inputs.transcripts))).toPandas()
        return frames_equal(got, self.oracle)


class ExtractChatCkpt(ExtractHtml):
    """``plans.checkpoint.run_with_checkpoints`` (8 buckets, salt 8) over
    chat turns into a fresh directory, read back through
    ``read_committed``."""

    name = "extract_chat_ckpt"
    n_turns = 60_000

    def generate(self, seed: int, workdir: Path) -> Inputs:
        return chat_inputs(seed, workdir, self.n_turns)

    def bind(self, spark) -> None:
        self.expected = content_digest(spark.createDataFrame(self.oracle, EXTRACT_SCHEMA))

    def _out(self, i) -> Path:
        return self.inputs.workdir / f"ckpt-{i}"

    def op(self, spark, tracer, i):
        out = str(self._out(i))
        with tracer.span("checkpoint.run_with_checkpoints"):
            summary = run_with_checkpoints(
                spark, str(self.inputs.transcripts), out, n_buckets=N_BUCKETS, n_salt=N_SALT
            )
        with tracer.span("checkpoint.read_committed"):
            read_back = content_digest(read_committed(spark, out))
        with tracer.span("checkpoint.read_manifests"):
            manifests = list(read_manifests(out))
        return summary, read_back, manifests

    def check(self, got) -> bool:
        summary, read_back, manifests = got
        x = 0
        for m in manifests:
            x ^= m["content_hash64"]
        attested = (sum(m["rows"] for m in manifests), x)
        return (
            len(manifests) == N_BUCKETS
            and summary["rows"] == self.expected[0]
            and attested == self.expected
            and read_back == self.expected
        )

    def cleanup(self, i) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)

    def full_check(self, spark) -> bool:
        """Compares the warm-up op's committed output, turn by turn."""
        got = read_committed(spark, str(self._out("warmup"))).drop("bucket").toPandas()
        self.cleanup("warmup")
        return frames_equal(got, self.oracle)


class CurateDedup:
    """``QUERIES["curate_corpus"]`` over a seeded documents table with
    planted exact, near and partial duplicates and a quality mix."""

    name = "curate_dedup"
    n_docs = 500
    # Ops keep getting faster for a minute as the JVM compiles the
    # planner's hot paths; a median of five damps where that curve is.
    min_ops = 5

    def generate(self, seed: int, workdir: Path) -> Inputs:
        return curate_inputs(seed, workdir, self.n_docs)

    def prepare(self, inputs: Inputs) -> None:
        """Run the registered DuckDB oracle SQL over the same documents."""
        import duckdb

        self.inputs = inputs
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{inputs.workdir / 'duckdb'}'")
        path = inputs.docs_dir / "documents.parquet"
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(QUERIES["curate_corpus"][1])
        self.columns = [c[0] for c in res.description]
        self.oracle = sorted(tuple(_norm(v) for v in row) for row in res.fetchall())
        con.close()

    def bind(self, spark) -> None:
        pass

    def op(self, spark, tracer, i):
        with tracer.span("driver_queries.curate_corpus"):
            df = QUERIES["curate_corpus"][0](spark, str(self.inputs.docs_dir))
        with tracer.span("sink.collect"):
            return df.columns, df.collect()

    def check(self, got) -> bool:
        columns, rows = got
        return columns == self.columns and sorted(tuple(_norm(v) for v in r) for r in rows) == self.oracle

    def cleanup(self, i) -> None:
        pass

    def full_check(self, spark) -> bool:
        return True  # every op already compares every output row


WORKLOADS = {w.name: w for w in (ExtractHtml, ExtractChatCkpt, CurateDedup)}
