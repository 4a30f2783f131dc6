"""Seeded inputs for the KG benchmark.

Every function here is a pure function of its arguments (the seed
included), so the same seed always gives byte-identical pages and drops.
The program under test only ever sees the generated pages; the expected
graph comes from ``uckg_spark.oracle.kg_oracle.run_oracle`` over the same
rows.
"""

from __future__ import annotations

import datetime as _dt
import random

import pyarrow as pa
import pyarrow.parquet as pq

from uckg_spark.fixtures import dicts as D
from uckg_spark.fixtures.pages import page_row
from uckg_spark.kernel import templates as T

BASE_TS = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

# parquet schema that ``sources.pages.read_pages`` reads as PAGES_SCHEMA
# (a tz-aware timestamp is stored adjusted-to-UTC, i.e. Spark TIMESTAMP)
PAGES_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

_WORDS = ("exploit chain observed against exposed services; operators "
          "report lateral movement and staged payloads before patching").split()


def webpages(seed: int, n: int) -> list[dict]:
    """Common-Crawl-sized pages (~10 KB): the fixture generator's
    ``page_row`` with 50 mention-free filler paragraphs, i.e. exactly the
    rows ``fixtures.pages.synthesize_pages_df(filler_paras=50)`` makes."""
    return [page_row(i, seed, filler_paras=50) for i in range(n)]


def _dense_html(rng: random.Random, tag: str) -> bytes:
    """~1 KB page: ~12 open-space CVE ids (almost never repeated across
    pages) plus dictionary CWE / CAPEC / ATT&CK ids, so the emitted edge
    count grows with the corpus (~30 edges a page)."""
    toks = [f"CVE-{rng.randint(2000, 2025)}-{rng.randint(10000, 99999)}"
            for _ in range(rng.randint(10, 14))]
    if rng.random() < 0.9:
        toks.append(rng.choice(D.CWE_IDS))
    if rng.random() < 0.6:
        toks.append(rng.choice(D.CAPEC_IDS))
    if rng.random() < 0.3:
        toks.append(rng.choice(D.TECHNIQUE_IDS + D.ATTACK_OTHER_IDS))
    rng.shuffle(toks)
    paras = "".join(
        f"<p>{' '.join(rng.choices(_WORDS, k=6))} {t}.</p>" for t in toks)
    return (f"<html><head><title>Bulletin {tag}</title></head><body>"
            f"<h1>Bulletin {tag}</h1>{paras}</body></html>").encode()


def dense_row(seed: int, i: int, version: int = 0) -> dict:
    """Short mention-dense page ``i``; ``version`` > 0 is a re-crawl of
    the same url with fresh content."""
    rng = random.Random(f"dense:{seed}:{i}:{version}")
    return {
        "url": f"https://dense.test/bulletin/{i:07d}",
        "warc_ts": BASE_TS + _dt.timedelta(seconds=60 * i + 86400 * version),
        "html": _dense_html(rng, f"{i}.{version}"),
        "text": "",
        "lang": "en",
    }


def dense_pages(seed: int, n: int) -> list[dict]:
    return [dense_row(seed, i) for i in range(n)]


DROP_SHARE = 0.02  # of the live corpus, for each of upserts, deletes, inserts


def crawl_drop(seed: int, drop: int, live: dict[str, dict],
               next_id: int) -> tuple[list[dict], list[str], list[dict]]:
    """One crawl drop against the ``live`` pages (url -> row): re-crawl
    upserts, deletes and inserts, each ``DROP_SHARE`` of the live corpus,
    upserts and deletes on disjoint urls. The share is fixed so that
    every drop does the same amount of work; the seed picks the pages.
    Inserts take ids from ``next_id`` upward. Returns ``(upserts,
    deleted_urls, inserts)``; ``live`` is not modified."""
    rng = random.Random(f"drop:{seed}:{drop}")
    k = max(1, round(len(live) * DROP_SHARE))
    picked = rng.sample(sorted(live), 2 * k)
    upserts = [dense_row(seed, int(url.rsplit("/", 1)[1]), version=drop + 1)
               for url in picked[:k]]
    inserts = [dense_row(seed, next_id + j) for j in range(k)]
    return upserts, picked[k:], inserts


def write_pages(rows: list[dict], path: str) -> int:
    """Write rows as one parquet file; returns the html byte total."""
    table = pa.Table.from_pylist(rows, schema=PAGES_ARROW)
    pq.write_table(table, path, compression="zstd")
    return sum(len(r["html"]) for r in rows)


def expected_graph(triples) -> tuple[set, dict]:
    """The nodes/edges ``plans.kg_pipeline.materialize_graph`` must
    commit for an oracle triple set: edges are the URI-object, non-type
    triples; a node's labels are its rdf:type objects and its props map
    each literal predicate to the sorted set of its values."""
    edges = set()
    labels: dict[str, set] = {}
    props: dict[str, dict[str, set]] = {}
    for t in triples:
        if t.pred == T.RDF_TYPE:
            labels.setdefault(t.subj, set()).add(t.obj)
        elif t.obj_is_literal:
            props.setdefault(t.subj, {}).setdefault(t.pred, set()).add(t.obj)
        else:
            edges.add((t.subj, t.pred, t.obj))
    nodes = {
        uri: (tuple(sorted(labels.get(uri, ()))),
              tuple(sorted((p, tuple(sorted(v)))
                           for p, v in props.get(uri, {}).items())))
        for uri in labels.keys() | props.keys()
    }
    return edges, nodes
