"""Seeded input generator for the KG-construction benchmark.

Everything a workload consumes is made here, from ``--seed``, with numpy,
in the benchmark process and before any Spark session exists. The program
under test only ever sees the files written by :func:`write_inputs`.

Pages follow ``WEBPAGE_SCHEMA`` (url, warc_ts, html, text, lang). Text is a
Zipf draw over a generated vocabulary with lognormal (long-tailed) page
lengths; a token gets a trailing ``.`` with probability ``SENTENCE_P``, which
ends a sentence for the extraction operator's splitter.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gazetteer_entity_parser_spark.kernel.tokenizer import tokens_only

SENTENCE_P = 1.0 / 12.0
PAGE_FILES = 4

# fused_crawl: ASCII crawl, 1,000 single-token + 150,000 two-token entries
FUSED_PAGES = 2_000
FUSED_VOCAB = 30_000
FUSED_ZIPF = 1.1
FUSED_SINGLES = 1_000
FUSED_BIGRAMS = 150_000
# checkpointed_crawl: the program derives its alias gazetteer from the pages
CKPT_PAGES = 1_000
CKPT_VOCAB = 20_000
CKPT_ZIPF = 1.0
CKPT_WIDE_SHARE = 0.15
CKPT_ENTITIES = 600  # also the pipeline's n_entities (workloads.CheckpointedCrawl)
# incremental_stream: a seeding batch, then small staged files
STREAM_INITIAL = 600
STREAM_BATCHES = 5
STREAM_PAGES_PER_BATCH = 100
STREAM_RECRAWL_SHARE = 0.3
STREAM_VOCAB = 20_000
STREAM_ZIPF = 1.1
STREAM_ENTITIES = 2_000
ASCII_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
# letters outside ASCII (Latin-1, Greek, CJK) for the non-ASCII page share
WIDE_LETTERS = np.array(list("àéîõüßçñαβγδλπστ東京大阪語"))
# U+001C..U+001F: whitespace to Python's \s, token characters to the
# reference tokenizer; the kernel must keep them inside tokens
SEPARATORS = ["\x1c", "\x1d", "\x1e", "\x1f"]

PAGE_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GAZETTEER_ARROW_SCHEMA = pa.schema(
    [("raw_value", pa.string()), ("resolved_value", pa.string()), ("rank", pa.int64())]
)
_EPOCH = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)


@dataclass
class Inputs:
    """Generated inputs of one workload: page tables, the gazetteer (None
    when the program derives it from the pages) and the input properties."""

    pages: pa.Table
    gazetteer: pa.Table | None = None
    stream_batches: list[pa.Table] = field(default_factory=list)
    props: dict = field(default_factory=dict)


def make_vocab(rng: np.random.Generator, n: int, letters: np.ndarray, min_len: int = 2,
               max_len: int = 9) -> list[str]:
    """``n`` distinct words of ``min_len..max_len`` letters, in draw order."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        m = 2 * (n - len(out))
        lens = rng.integers(min_len, max_len + 1, size=m)
        chars = rng.choice(letters, size=(m, max_len))
        for row, k in zip(chars, lens):
            w = "".join(row[:k])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def page_lengths(rng: np.random.Generator, n: int, median: int, sigma: float,
                 lo: int = 4, hi: int = 3000) -> np.ndarray:
    """Long-tailed page lengths in tokens: lognormal around ``median``,
    rescaled so every seed has the same total (``n`` times the lognormal
    mean), which keeps the work per run fixed while the shape varies."""
    raw = np.clip(rng.lognormal(mean=np.log(median), sigma=sigma, size=n), lo, hi)
    total = int(round(n * median * np.exp(sigma**2 / 2)))
    lengths = np.maximum(lo, np.rint(raw * total / raw.sum())).astype(np.int64)
    lengths[np.argmax(lengths)] += total - int(lengths.sum())
    return lengths


def make_texts(rng: np.random.Generator, vocab: list[str], s: float, lengths: np.ndarray,
               wide: np.ndarray | None = None) -> list[str]:
    """One text per page: Zipf tokens joined by spaces, ``.`` sentence ends.
    ``wide`` marks pages whose tokens are partly drawn from non-ASCII words
    (every third token) and carry U+001C..U+001F inside some tokens."""
    words = np.array(vocab, dtype=object)
    p = zipf_probs(len(vocab), s)
    total = int(lengths.sum())
    ids = rng.choice(len(vocab), size=total, p=p)
    toks = words[ids]
    ends = rng.random(total) < SENTENCE_P
    toks = np.where(ends, toks + ".", toks)
    texts: list[str] = []
    off = 0
    for i, k in enumerate(lengths.tolist()):
        page = toks[off : off + k].tolist()
        off += k
        if wide is not None and wide[i]:
            page = _widen(rng, page)
        texts.append(" ".join(page))
    return texts


def _widen(rng: np.random.Generator, page: list[str]) -> list[str]:
    n = len(page)
    wide_words = make_vocab(rng, max(1, n // 3 + 1), WIDE_LETTERS, 2, 6)
    for j in range(0, n, 3):
        page[j] = wide_words[j // 3]
    # glue a separator into every fifth token: one token to the kernel
    for j in range(1, n, 5):
        page[j] = page[j] + SEPARATORS[j % 4] + "x"
    return page


def pages_table(texts: list[str], urls: list[str], first_ts: int = 0) -> pa.Table:
    n = len(texts)
    ts = [_EPOCH + dt.timedelta(seconds=first_ts + i) for i in range(n)]
    html = [("<html><body>" + t + "</body></html>").encode() for t in texts]
    lang = ["en"] * n
    return pa.Table.from_arrays(
        [pa.array(urls, pa.string()), pa.array(ts, pa.timestamp("us", tz="UTC")),
         pa.array(html, pa.binary()), pa.array(texts, pa.string()),
         pa.array(lang, pa.string())],
        schema=PAGE_ARROW_SCHEMA,
    )


def gazetteer_table(raw: list[str], resolved: list[str], ranks: np.ndarray) -> pa.Table:
    return pa.Table.from_arrays(
        [pa.array(raw, pa.string()), pa.array(resolved, pa.string()),
         pa.array(ranks.astype(np.int64), pa.int64())],
        schema=GAZETTEER_ARROW_SCHEMA,
    )


# ---------------------------------------------------------------- properties


def fan_out(raw_values: list[str]) -> tuple[int, float]:
    """Posting fan-out: for each distinct gazetteer token, how many entries
    contain it. Returns (max, mean)."""
    c: Counter = Counter()
    for rv in raw_values:
        for t in set(tokens_only(rv)):
            c[t] += 1
    if not c:
        return 0, 0.0
    vals = np.fromiter(c.values(), dtype=np.int64)
    return int(vals.max()), round(float(vals.mean()), 4)


def gazetteer_props(raw_values: list[str], prefix: str = "gazetteer") -> dict:
    lens = Counter(len(tokens_only(rv)) for rv in raw_values)
    fmax, fmean = fan_out(raw_values)
    return {
        f"{prefix}.entries": len(raw_values),
        f"{prefix}.entry_tokens": {str(k): v for k, v in sorted(lens.items())},
        f"{prefix}.fan_out_max": fmax,
        f"{prefix}.fan_out_mean": fmean,
    }


def page_props(texts: list[str], vocab_size: int, zipf_s: float) -> dict:
    lens = np.array([len(tokens_only(t)) for t in texts], dtype=np.int64)
    non_ascii = sum(1 for t in texts if not t.isascii())
    return {
        "pages": len(texts),
        "tokens": int(lens.sum()),
        "tokens_per_page.p50": float(np.percentile(lens, 50)),
        "tokens_per_page.p99": float(np.percentile(lens, 99)),
        "vocab": vocab_size,
        "zipf_s": zipf_s,
        "non_ascii_share": round(non_ascii / max(1, len(texts)), 4),
    }


# ---------------------------------------------------------------- workloads


def fused_crawl(seed: int) -> Inputs:
    """ASCII crawl plus a >=150k-entry gazetteer of 1-2 token entries with
    unique ranks. Singles are the words after the 20 most frequent (function
    words), so mentions concentrate on popular entities. Bigrams are the
    distinct pairs among ``4 * FUSED_BIGRAMS // 3`` Zipf-drawn word pairs (about
    108k), which occur in the text, topped up with uniform pairs that almost
    never do."""
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(rng, FUSED_VOCAB, ASCII_LETTERS)
    lengths = page_lengths(rng, FUSED_PAGES, median=120, sigma=0.9)
    texts = make_texts(rng, vocab, FUSED_ZIPF, lengths)
    urls = [f"https://crawl.example/{seed}/f/{i}" for i in range(FUSED_PAGES)]

    singles = vocab[20 : 20 + FUSED_SINGLES]
    p = zipf_probs(FUSED_VOCAB, FUSED_ZIPF)
    n_zipf = FUSED_BIGRAMS // 3
    a = np.concatenate([rng.choice(FUSED_VOCAB, size=4 * n_zipf, p=p),
                        rng.integers(0, FUSED_VOCAB, size=4 * FUSED_BIGRAMS)])
    b = np.concatenate([rng.choice(FUSED_VOCAB, size=4 * n_zipf, p=p),
                        rng.integers(0, FUSED_VOCAB, size=4 * FUSED_BIGRAMS)])
    pairs: list[tuple[int, int]] = []
    seen: set[tuple[int, int]] = set()
    for pair in zip(a.tolist(), b.tolist()):
        if pair not in seen:
            seen.add(pair)
            pairs.append(pair)
            if len(pairs) == FUSED_BIGRAMS:
                break
    raw = singles + [f"{vocab[x]} {vocab[y]}" for x, y in pairs]
    resolved = [w.upper() for w in singles] + [f"{vocab[x]}_{vocab[y]}".upper() for x, y in pairs]
    ranks = rng.permutation(len(raw))
    props = page_props(texts, FUSED_VOCAB, FUSED_ZIPF)
    props.update(gazetteer_props(raw))
    props.update({"recrawl_share": 0.0, "batches": 1})
    return Inputs(pages_table(texts, urls), gazetteer_table(raw, resolved, ranks), props=props)


def checkpointed_crawl(seed: int) -> Inputs:
    """Crawl with a non-ASCII / separator-bearing page share. The program
    derives its own alias gazetteer from these pages (``run_pipeline`` stage
    A); its properties are computed here with the same rule: top
    ``CKPT_ENTITIES`` space-split words by (count desc, word asc), plus bigram
    aliases of consecutive ranked words for the first half."""
    rng = np.random.default_rng([seed, 2])
    vocab = make_vocab(rng, CKPT_VOCAB, ASCII_LETTERS)
    lengths = page_lengths(rng, CKPT_PAGES, median=100, sigma=0.8)
    wide = rng.random(CKPT_PAGES) < CKPT_WIDE_SHARE
    texts = make_texts(rng, vocab, CKPT_ZIPF, lengths, wide=wide)
    urls = [f"https://crawl.example/{seed}/c/{i}" for i in range(CKPT_PAGES)]
    counts: Counter = Counter()
    for t in texts:
        counts.update(w for w in t.split(" ") if w)
    top = [w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:CKPT_ENTITIES]]
    raw = top + [f"{top[i]} {top[i + 1]}" for i in range(min(CKPT_ENTITIES // 2, len(top) - 1))]
    props = page_props(texts, CKPT_VOCAB, CKPT_ZIPF)
    props.update(gazetteer_props(raw))
    props.update({"recrawl_share": 0.0, "batches": 1})
    return Inputs(pages_table(texts, urls), None, props=props)


def incremental_stream(seed: int) -> Inputs:
    """An initial batch that seeds the store, then ``STREAM_BATCHES`` small
    files. A ``STREAM_RECRAWL_SHARE`` of each file re-fetches an
    already-ingested URL with its text unchanged (its triples update
    existing rows); the rest are new pages. The gazetteer is single-token:
    ``STREAM_ENTITIES`` vocabulary words after the 20 most frequent."""
    rng = np.random.default_rng([seed, 3])
    vocab = make_vocab(rng, STREAM_VOCAB, ASCII_LETTERS)
    n_all = STREAM_INITIAL + STREAM_BATCHES * STREAM_PAGES_PER_BATCH
    lengths = page_lengths(rng, n_all, median=80, sigma=0.7, hi=1500)
    texts = make_texts(rng, vocab, STREAM_ZIPF, lengths)
    urls = [f"https://crawl.example/{seed}/s/{i}" for i in range(n_all)]
    initial = pages_table(texts[:STREAM_INITIAL], urls[:STREAM_INITIAL])
    batches = []
    n_re = int(round(STREAM_RECRAWL_SHARE * STREAM_PAGES_PER_BATCH))
    nxt = STREAM_INITIAL
    for b in range(STREAM_BATCHES):
        fresh = list(range(nxt, nxt + STREAM_PAGES_PER_BATCH - n_re))
        nxt += STREAM_PAGES_PER_BATCH - n_re
        again = rng.choice(nxt - len(fresh), size=n_re, replace=False).tolist()
        idx = fresh + again
        batches.append(pages_table([texts[i] for i in idx], [urls[i] for i in idx],
                                   first_ts=STREAM_INITIAL + b * STREAM_PAGES_PER_BATCH))
    words = vocab[20 : 20 + STREAM_ENTITIES]
    raw = list(words)
    resolved = [w.upper() for w in words]
    ranks = np.arange(len(raw))
    all_texts = texts[:STREAM_INITIAL] + [t for bt in batches
                                          for t in bt.column("text").to_pylist()]
    props = page_props(all_texts, STREAM_VOCAB, STREAM_ZIPF)
    props.update(gazetteer_props(raw))
    props.update({"recrawl_share": STREAM_RECRAWL_SHARE, "batches": STREAM_BATCHES,
                  "pages_per_batch": STREAM_PAGES_PER_BATCH, "initial_pages": STREAM_INITIAL})
    return Inputs(initial, gazetteer_table(raw, resolved, ranks), batches, props)


GENERATORS = {
    "fused_crawl": fused_crawl,
    "checkpointed_crawl": checkpointed_crawl,
    "incremental_stream": incremental_stream,
}


def write_inputs(inputs: Inputs, out_dir: str) -> dict[str, str]:
    """Write the generated tables as parquet under ``out_dir``; returns the
    paths by role (``pages``, ``gazetteer``, ``stream``)."""
    paths = {"pages": os.path.join(out_dir, "pages")}
    os.makedirs(paths["pages"], exist_ok=True)
    # several files, so the scan alone gives every core a partition
    n = inputs.pages.num_rows
    step = -(-n // PAGE_FILES)
    for i, lo in enumerate(range(0, n, step)):
        pq.write_table(inputs.pages.slice(lo, step),
                       os.path.join(paths["pages"], f"part-{i:04d}.parquet"))
    if inputs.gazetteer is not None:
        paths["gazetteer"] = os.path.join(out_dir, "gazetteer.parquet")
        pq.write_table(inputs.gazetteer, paths["gazetteer"])
    if inputs.stream_batches:
        paths["stream"] = os.path.join(out_dir, "stream")
        os.makedirs(paths["stream"], exist_ok=True)
        for i, t in enumerate(inputs.stream_batches):
            pq.write_table(t, os.path.join(paths["stream"], f"batch-{i:04d}.parquet"))
    return paths
