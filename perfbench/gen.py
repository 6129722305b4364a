"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (settings, seed): the same seed
writes byte-identical parquet. The program under test only ever sees the
written files; it never calls into this module.

Pages follow the Common-Crawl-style table the pipeline reads
(url, warc_ts, html, text, lang), in the shape of the ``documents``
fixture the repository's tests and ``bench.py`` synthesize pages from
(``pipeline/pages.py``). Measured on its 5,000-document scale, that
fixture has: text of 10-100 tokens, uniform (median 54); tokens drawn
independently, 53.4% entity words, 20.0% relation words and 26.6% from
nine filler words; 12.9% of pages without a triple (the short ones);
41% ``en`` pages and the rest split evenly over de, fr, es and zh;
0.16% exact duplicate texts and no near duplicates. ``FIXTURE_MIX``
holds these values. The properties the engine depends on are settings:

* page count and text length (tokens per page);
* the share of pages with no "ENT REL ENT" trigram at all;
* exact duplicates (same html under another url) and near duplicates
  (one token changed) of earlier pages;
* the share of ``en`` pages, which decides the kg1/kg2 split.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ontoea_spark.functions.text import ENTITY_WORDS, RELATION_WORDS, TRIPLE_PATTERN

# the fixture's words outside the grammar; none is an entity or relation word
FILLER_WORDS = ("small", "fast", "a", "slow", "group", "agg", "big", "the", "dup")
# token shares measured on the fixture; the rest are filler words
ENTITY_SHARE = 0.534
RELATION_SHARE = 0.200
OTHER_LANGS = ("de", "fr", "es", "zh")
_TRIPLE = re.compile(TRIPLE_PATTERN)
WARC_EPOCH0 = dt.datetime(2024, 1, 1)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class PageMix:
    """Corpus shape. Shares are probabilities per generated page."""

    n_pages: int
    min_tokens: int
    max_tokens: int
    no_triple_share: float
    exact_dup_share: float
    near_dup_share: float
    en_share: float

    def as_dict(self) -> dict:
        return asdict(self)


FIXTURE_MIX = PageMix(
    n_pages=5_000, min_tokens=10, max_tokens=100, no_triple_share=0.129,
    exact_dup_share=0.0016, near_dup_share=0.0, en_share=0.41,
)


def html_of(doc_id: int, text: str) -> bytes:
    return (
        f"<html><head><title>doc-{doc_id}</title></head><body><p>"
        f"{text}</p></body></html>"
    ).encode("utf-8")


def _draw_text(rng: random.Random, mix: PageMix) -> str:
    toks = []
    for _ in range(rng.randint(mix.min_tokens, mix.max_tokens)):
        r = rng.random()
        if r < ENTITY_SHARE:
            toks.append(rng.choice(ENTITY_WORDS))
        elif r < ENTITY_SHARE + RELATION_SHARE:
            toks.append(rng.choice(RELATION_WORDS))
        else:
            toks.append(rng.choice(FILLER_WORDS))
    return " ".join(toks)


def _text(rng: random.Random, mix: PageMix, with_triples: bool) -> str:
    """A fixture-shaped text that has a triple or has none: drawn again
    until it matches, so triple-free pages are short, as in the fixture."""
    while True:
        text = _draw_text(rng, mix)
        if bool(_TRIPLE.search(text)) == with_triples:
            return text


def page_rows(mix: PageMix, seed: int) -> list[tuple]:
    """``mix.n_pages`` pages in arrival (warc_ts) order."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    for i in range(mix.n_pages):
        url = f"https://src{rng.randrange(20)}.example.org/doc/{seed}-{i}"
        ts = WARC_EPOCH0 + dt.timedelta(seconds=i)
        r = rng.random()
        if rows and r < mix.exact_dup_share:
            _, _, html, text, lang = rows[rng.randrange(len(rows))]
        elif rows and r < mix.exact_dup_share + mix.near_dup_share:
            _, _, _, text, lang = rows[rng.randrange(len(rows))]
            toks = text.split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(FILLER_WORDS)
            text = " ".join(toks)
            html = html_of(i, text)
        else:
            with_triples = rng.random() >= mix.no_triple_share
            text = _text(rng, mix, with_triples)
            lang = "en" if rng.random() < mix.en_share else rng.choice(OTHER_LANGS)
            html = html_of(i, text)
        rows.append((url, ts, html, text, lang))
    return rows


def write_pages(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in PAGES_SCHEMA]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)],
        schema=PAGES_SCHEMA,
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path)


@dataclass(frozen=True)
class TwoKGMix:
    """``generate_two_kg`` settings (vectorized sampler)."""

    n_ent: int
    n_rel: int
    n_triples: int

    def as_dict(self) -> dict:
        return asdict(self)


class _RowCapture:
    """Stands in for the session ``generate_two_kg`` hands its row lists
    to, so the parts are generated without running a Spark job."""

    def createDataFrame(self, data, schema: str):  # noqa: N802 (Spark's name)
        names = [f.split()[0] for f in schema.split(", ")]
        if hasattr(data, "itertuples"):
            data = list(data.itertuples(index=False, name=None))
        return names, data


TWO_KG_PARTS = ("triples1", "triples2", "links", "cv")


def two_kg_parts(mix: TwoKGMix, seed: int) -> dict[str, tuple[list[str], list[tuple]]]:
    """{part: (column names, rows)} from ``generate_two_kg``."""
    from ontoea_spark.training.benchgen import generate_two_kg

    b = generate_two_kg(
        _RowCapture(), n_ent=mix.n_ent, n_rel=mix.n_rel,
        n_triples=mix.n_triples, seed=seed, vectorized=True,
    )
    return {name: getattr(b, name) for name in TWO_KG_PARTS}


def write_rows(names: list[str], rows: list[tuple], path: str) -> None:
    """String-column rows as one parquet file."""
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    table = pa.table({n: pa.array(c, type=pa.string()) for n, c in zip(names, cols)})
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path)
