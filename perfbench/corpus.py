"""Seeded web-page corpus for the benchmark, with planted-twin ground truth.

Self-contained on purpose: it imports nothing from ``lsh_rs_spark``, so a
change to the program's own synthetic generator cannot change the
benchmark's inputs.  Pages are built in this process with ``random.Random``
and written with pyarrow in the page shape the program reads
(url, warc_ts, html, text, lang).

Planted structure, as exact shares of ``n_pages`` originals:

* ``NEAR_RATE`` of pages get a near-duplicate twin: the same word stream
  with one word in every ``MUTATE_EVERY`` replaced at evenly spaced
  positions, so word-3-shingle Jaccard stays near 0.88 for every length.
* ``EXACT_RATE`` get a byte-identical twin.
* ``BOILER_RATE`` start with one shared 60-word template followed by their
  own words: a shared span for span cleaning, and colliding band keys.

Twins get their own URL.  Row order is shuffled, so a twin pair usually
lands in different files when the corpus is split for streaming.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 5000
MIN_WORDS, MAX_WORDS = 100, 300
NEAR_RATE, EXACT_RATE, BOILER_RATE = 0.10, 0.02, 0.01
MUTATE_EVERY = 50
TEMPLATE_WORDS = 60
LANGS = ("en", "en", "en", "de", "fr", "es")
PAGE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass
class Corpus:
    urls: list[str]
    texts: list[str]
    langs: list[str]
    #: planted twin pairs (url_a, url_b), url_a the original
    twins: list[tuple[str, str]] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.urls)


def make_corpus(n_pages: int, seed: int) -> Corpus:
    """~n_pages * (1 + NEAR_RATE + EXACT_RATE) pages; same seed, same pages."""
    rng = random.Random(seed)
    vocab = [f"w{i:04d}" for i in range(VOCAB_SIZE)]
    template = rng.choices(vocab, k=TEMPLATE_WORDS)
    # exact counts, not per-page coin flips: every seed gets the same
    # number of twins and boilerplate pages, only different content
    near, exact, boiler = (
        set(rng.sample(range(n_pages), round(rate * n_pages)))
        for rate in (NEAR_RATE, EXACT_RATE, BOILER_RATE)
    )
    rows: list[tuple[str, str, str]] = []
    twins: list[tuple[str, str]] = []

    def url(page_no: int) -> str:
        return f"https://site{rng.randrange(1000):03d}.example/p/{seed}/{page_no}"

    for i in range(n_pages):
        words = rng.choices(vocab, k=rng.randint(MIN_WORDS, MAX_WORDS))
        u = url(i)
        if i in boiler:
            words = template + words
        text = " ".join(words)
        rows.append((u, text, rng.choice(LANGS)))
        if i in near:
            mutated = list(words)
            for pos in range(MUTATE_EVERY // 2, len(mutated), MUTATE_EVERY):
                mutated[pos] = rng.choice(vocab)
            tu = url(n_pages + i)
            rows.append((tu, " ".join(mutated), rng.choice(LANGS)))
            twins.append((u, tu))
        if i in exact:
            tu = url(2 * n_pages + i)
            rows.append((tu, text, rng.choice(LANGS)))
            twins.append((u, tu))
    rng.shuffle(rows)
    return Corpus(
        urls=[r[0] for r in rows],
        texts=[r[1] for r in rows],
        langs=[r[2] for r in rows],
        twins=twins,
    )


def _table(c: Corpus, lo: int, hi: int) -> pa.Table:
    ts0 = 1_600_000_000_000_000
    return pa.table(
        {
            "url": c.urls[lo:hi],
            "warc_ts": pa.array(
                [ts0 + 7_000_000 * i for i in range(lo, hi)],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": [
                f"<html><body><p>{t}</p></body></html>".encode()
                for t in c.texts[lo:hi]
            ],
            "text": c.texts[lo:hi],
            "lang": c.langs[lo:hi],
        },
        schema=PAGE_SCHEMA,
    )


def write_parquet(c: Corpus, out_dir: str, n_files: int) -> list[str]:
    """Split the corpus into ``n_files`` contiguous parquet files, named so
    lexical order is row order; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    n = len(c)
    for f in range(n_files):
        lo, hi = n * f // n_files, n * (f + 1) // n_files
        p = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(_table(c, lo, hi), p)
        paths.append(p)
    return paths
