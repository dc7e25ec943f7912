"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed``: the same seed gives
the same rows. What a workload is built to vary (turn
length, HTML share, hot-conversation share, duplicate share) is fixed by
quota, not drawn at random, so two seeds differ in content and order but
carry the same load; only which rows carry it changes with the seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path
from statistics import NormalDist

import numpy as np
import pandas as pd

from keras_ocr_spark.config import DEFAULT_CONFIG

N_FILES = 8
_EPOCH = datetime(2024, 1, 1)

# A few hundred pronounceable words: wide enough that unrelated documents
# rarely share a word 3-gram, so every near-duplicate the curation funnel
# finds is one the generator planted.
_SYL = ("ka", "lo", "mi", "ren", "tu", "sa", "vo", "pel", "di", "nor", "ex", "qua", "bri", "ton", "ha", "zel")
VOCAB = sorted({a + b + c for a in _SYL for b in _SYL[:8] for c in ("", "n", "s")})[:400]
EN_STOPWORDS = ("the", "and", "of", "to", "a")

_BOILERPLATE = (
    "<nav><a href='/'>home</a> <a href='/docs'>docs</a> <a href='/blog'>blog</a> <a href='/about'>about</a></nav>",
    "<header><div class='logo'>site</div><form><input name='q'><button>search</button></form></header>",
    "<aside><a href='/p1'>sponsored</a> <a href='/p2'>promoted</a> <a href='/p3'>trending now</a></aside>",
    "<div class='related'><a href='/r1'>related one</a> <a href='/r2'>related two</a> "
    "<a href='/r3'>related three</a> <a href='/r4'>more</a></div>",
    "<script>window.dataLayer=window.dataLayer||[];function g(){dataLayer.push(arguments)}</script>",
    "<footer>&copy; 2024 example &amp; co. <a href='/terms'>terms</a> <a href='/privacy'>privacy</a></footer>",
    "<style>.a{color:red}.b{margin:0 auto}</style>",
)


@dataclass
class Inputs:
    """Paths and the properties a run records about its inputs."""

    workdir: Path
    transcripts: Path | None = None
    docs_dir: Path | None = None
    turns: int = 0
    docs: int = 0
    frame: pd.DataFrame | None = None  # the transcripts, for the oracle
    properties: dict = field(default_factory=dict)


def _words(rng: random.Random, n: int, stop_share: float = 0.0) -> list:
    return [rng.choice(EN_STOPWORDS) if rng.random() < stop_share else rng.choice(VOCAB) for _ in range(n)]


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(_words(rng, n, 0.2)).capitalize() + "."


def _html_page(rng: random.Random, target: int) -> str:
    """An HTML page of at most ``target`` characters: boilerplate around
    paragraphs, headings and lists, the shape a browse tool returns."""
    parts = ["<html><head><title>", " ".join(_words(rng, 4)), "</title></head><body>"]
    size = sum(map(len, parts)) + len("</body></html>")
    while True:
        r = rng.random()
        if r < 0.3:
            piece = rng.choice(_BOILERPLATE)
        elif r < 0.4:
            piece = f"<h2>{' '.join(_words(rng, rng.randint(2, 6)))}</h2>"
        elif r < 0.5:
            items = "".join(f"<li>{_sentence(rng, rng.randint(3, 10))}</li>" for _ in range(rng.randint(2, 5)))
            piece = f"<ul>{items}</ul>"
        else:
            text = " ".join(_sentence(rng, rng.randint(6, 24)) for _ in range(rng.randint(1, 4)))
            if rng.random() < 0.2:
                text = text.replace(" ", " &amp; ", 1)
            piece = f"<div><p>{text}</p></div>"
        if size + len(piece) > target:
            break
        parts.append(piece)
        size += len(piece)
    parts.append("</body></html>")
    return "".join(parts)


def _length_plan(n: int, max_len: int) -> list:
    """Target turn lengths on a fixed quantile grid: a lognormal body
    (median ~1 KB) and a 1% tail spaced geometrically up to
    ``max_len``. The grid, not the seed, sets the length distribution."""
    n_tail = max(1, n // 100)
    q = (np.arange(n - n_tail) + 0.5) / (n - n_tail)
    z = np.array([NormalDist().inv_cdf(x) for x in q])
    body = np.clip(1000 * np.exp(0.6 * z), 300, 6000)
    tail = np.geomspace(6000, max_len, n_tail)
    return [int(x) for x in np.concatenate([body, tail])]


def _conv_sizes(rng: random.Random, n_turns: int, lo: int, hi: int) -> list:
    """Conversation sizes cycling through lo..hi until they sum to
    ``n_turns``: the multiset is fixed, only its order follows the seed."""
    sizes, k, total = [], lo, 0
    while total < n_turns:
        sizes.append(min(k, n_turns - total))
        total += sizes[-1]
        k = lo if k == hi else k + 1
    rng.shuffle(sizes)
    return sizes


def _write_transcripts(df: pd.DataFrame, out: Path) -> None:
    """Write ``N_FILES`` parquet files, clustered by conv_id (each file
    holds a contiguous conv_id range, the layout of a compacted table)."""
    out.mkdir(parents=True)
    df = df.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), N_FILES)):
        df.iloc[part].to_parquet(
            out / f"part-{i:03d}.parquet", index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )


def _frame(rows: list) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def _conv_rows(rng: random.Random, conv_id: str, texts: list, roles: tuple, tool) -> list:
    ts = _EPOCH + timedelta(minutes=rng.randint(0, 500_000))
    out = []
    for i, text in enumerate(texts):
        out.append((conv_id, i, roles[i % len(roles)], text, tool if i % len(roles) else None, ts))
        ts += timedelta(seconds=rng.randint(1, 300))
    return out


def _transcript_properties(df: pd.DataFrame, hot_ids: tuple = ()) -> dict:
    lens = df["text"].str.len().to_numpy()
    conv_sizes = df.groupby("conv_id").size()
    return {
        "turns": int(len(df)),
        "conversations": int(len(conv_sizes)),
        "bytes": int(df["text"].str.encode("utf-8").str.len().sum()),
        "html_share": round(float(df["text"].str.lstrip().str.startswith("<").mean()), 4),
        "blank_share": round(float((df["text"].str.strip() == "").mean()), 4),
        "turn_len_p50": float(np.percentile(lens, 50)),
        "turn_len_p99": float(np.percentile(lens, 99)),
        "turn_len_max": int(lens.max()),
        "hot_conversations": len(hot_ids),
        "hot_turn_share": round(float(conv_sizes.reindex(list(hot_ids)).sum() / len(df)), 4) if hot_ids else 0.0,
    }


def html_inputs(seed: int, workdir: Path, n_turns: int) -> Inputs:
    """Browse/tool turns: 96% HTML pages with boilerplate, lengths on a
    fixed grid with a long tail up to ``ExtractionConfig.max_len``."""
    rng = random.Random(seed)
    # Deal the lengths round-robin over the file-sized blocks of turns,
    # then shuffle within each block: every file carries the same share
    # of the long tail, so no seed gets a task holding most of it.
    blocks = [[] for _ in range(N_FILES)]
    for k, length in enumerate(sorted(_length_plan(n_turns, DEFAULT_CONFIG.max_len), reverse=True)):
        blocks[k % N_FILES].append(length)
    lengths = []
    for block in blocks:
        rng.shuffle(block)
        lengths += block
    sizes = _conv_sizes(rng, n_turns, 2, 10)
    rows, i = [], 0
    for c, k in enumerate(sizes):
        texts = []
        for j in range(i, i + k):
            if j % 25 == 0:  # a fixed share of plain tool output
                texts.append(" ".join(_sentence(rng, rng.randint(5, 20)) for _ in range(rng.randint(1, 3))))
            else:
                texts.append(_html_page(rng, lengths[j]))
        rows += _conv_rows(rng, f"page-{seed:x}-{c:06d}", texts, ("user", "tool"), "browser")
        i += k
    df = _frame(rows)
    path = workdir / "transcripts"
    _write_transcripts(df, path)
    return Inputs(workdir, path, turns=len(df), docs=len(sizes), frame=df, properties=_transcript_properties(df))


def _chat_text(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.22:
        return rng.choice(("", " ", "  ", "\n"))
    if r < 0.92:
        n = max(1, int(rng.lognormvariate(2.3, 0.7)))
        return " ".join(_sentence(rng, min(n, 60) if n > 3 else 3) for _ in range(rng.randint(1, 2)))
    if r < 0.97:
        return "```\n" + "\n".join(f"x_{rng.randint(0, 99)} = {rng.randint(0, 999)}" for _ in range(rng.randint(1, 6))) + "\n```"
    return f"<p>{_sentence(rng, rng.randint(8, 20))}</p><a href='/x'>link</a>"


def chat_inputs(seed: int, workdir: Path, n_turns: int, hot_share: float = 0.4, n_hot: int = 8) -> Inputs:
    """Chat turns: mostly short plain text or blank. ``n_hot``
    conversations hold ``hot_share`` of the turns between them."""
    rng = random.Random(seed)
    n_hot_turns = int(n_turns * hot_share)
    sizes = [n_hot_turns // n_hot] * n_hot + _conv_sizes(rng, n_turns - n_hot_turns // n_hot * n_hot, 2, 20)
    rng.shuffle(sizes)
    rows, hot_ids = [], []
    for c, k in enumerate(sizes):
        conv_id = f"chat-{rng.getrandbits(40):010x}"
        if k >= n_hot_turns // n_hot and len(hot_ids) < n_hot:
            hot_ids.append(conv_id)
        rows += _conv_rows(rng, conv_id, [_chat_text(rng) for _ in range(k)], ("user", "assistant"), None)
    df = _frame(rows)
    path = workdir / "transcripts"
    _write_transcripts(df, path)
    return Inputs(workdir, path, turns=len(df), docs=len(sizes), frame=df, properties=_transcript_properties(df, tuple(hot_ids)))


_LANGS = ("en", "en", "en", "es", "fr", "de", "zh")


def curate_inputs(seed: int, workdir: Path, n_docs: int) -> Inputs:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) built
    from generated conversations: each base document is one
    conversation's turns joined. Fixed quotas of exact copies (6%),
    near-duplicates (12%, ~4% of words replaced), partial copies that
    reuse 65% of a document's words (6%, caught by the substring gate,
    not by Jaccard), and a quality mix (stopword-rich prose, bare word
    lists, punctuation-heavy junk) so every funnel stage keeps some
    documents and drops some."""
    rng = random.Random(seed)
    n_exact, n_near, n_partial = n_docs * 6 // 100, n_docs * 12 // 100, n_docs * 6 // 100
    n_base = n_docs - n_exact - n_near - n_partial
    sizes = [2 + c % 5 for c in range(n_base)]  # 2..6 turns per conversation
    rng.shuffle(sizes)
    rows, base = [], []
    for c, k in enumerate(sizes):
        kind = c % 20  # 50% prose with stopwords, 35% bare word lists, 15% junk
        stop = 0.15 if kind < 10 else 0.0
        turns = []
        for _ in range(k):
            n = rng.randint(4, 16)
            if kind >= 17:  # punctuation-heavy junk
                turns.append(" ".join(f"{w}|#" if rng.random() < 0.5 else w for w in _words(rng, n)))
            else:
                turns.append(" ".join(_words(rng, n, stop)))
        rows += _conv_rows(rng, f"doc-{seed:x}-{c:06d}", turns, ("user", "assistant"), None)
        base.append(" ".join(turns).split(" "))

    texts = [" ".join(ws) for ws in base]
    kinds = ["base"] * n_base
    for _ in range(n_exact):
        texts.append(texts[rng.randrange(n_base)])
        kinds.append("exact")
    for _ in range(n_near):
        ws = list(base[rng.randrange(n_base)])
        for j in range(0, len(ws), 25):
            ws[min(len(ws) - 1, j + rng.randrange(25))] = rng.choice(VOCAB)
        texts.append(" ".join(ws))
        kinds.append("near")
    for _ in range(n_partial):
        ws = base[rng.randrange(n_base)]
        keep = max(5, int(len(ws) * 0.65))
        lo = rng.randrange(len(ws) - keep + 1)
        texts.append(" ".join(ws[lo : lo + keep] + _words(rng, len(ws) - keep + 1)))
        kinds.append("partial")
    order = list(range(len(texts)))
    rng.shuffle(order)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype="int64"),
            "text": [texts[i] for i in order],
            "lang": [rng.choice(_LANGS) for _ in order],
            "source": [f"src{rng.randrange(20)}" for _ in order],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    kind_col = pd.Series([kinds[i] for i in order])

    docs_dir = workdir / "docs"
    docs_dir.mkdir(parents=True)
    docs.to_parquet(docs_dir / "documents.parquet", index=False)
    frame = _frame(rows)
    path = workdir / "transcripts"
    _write_transcripts(frame, path)
    props = _transcript_properties(frame)
    props.update(
        {
            "docs": len(docs),
            "doc_bytes": int(docs["n_chars"].sum()),
            "duplicate_share": round(float((kind_col != "base").mean()), 4),
            "exact_dup_share": round(float((kind_col == "exact").mean()), 4),
            "near_dup_share": round(float((kind_col == "near").mean()), 4),
            "partial_dup_share": round(float((kind_col == "partial").mean()), 4),
            "doc_len_p50": float(docs["n_chars"].quantile(0.5)),
            "doc_len_p99": float(docs["n_chars"].quantile(0.99)),
        }
    )
    return Inputs(workdir, path, docs_dir, turns=len(frame), docs=len(docs), frame=frame, properties=props)
