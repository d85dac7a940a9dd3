"""Seed-keyed benchmark inputs and the oracle counts they imply.

Every input is a pure function of a page index through
``gleaner_spark.sources.corpus`` (``url_for``/``html_for``/
``content_type_for``); the seed only picks which window of indices a
workload uses. Pages are written straight to parquet with pyarrow, so
making inputs costs no Spark job and set-up time measures the engine,
not the generator.

The oracle is computed here, on the driver, from the same generator:
robots decisions come from the corpus's documented rules (``/private/``
is disallowed on every host that serves a robots.txt) and documents
from ``corpus.expected_documents_for_page`` + ``fixups.process_json``
+ ``identifier.generate_identifier``, one page at a time, with no
Spark.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from gleaner_spark.core import extract as ex
from gleaner_spark.core import fixups as fx
from gleaner_spark.core import identifier as ident
from gleaner_spark.sources import corpus

# corpus.build_robots serves no robots.txt for this source (a 404)
NO_ROBOTS_SOURCE = 3
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("content_type", pa.string()),
])
_SOURCES = {s.name: s for s in corpus.build_sources()}


def window_start(seed: int) -> int:
    """First page index of a seed's window. Windows stay far below
    10^6, where the corpus's extra graph/two-script payloads
    (indices i + 10^6 and i + 2·10^6) would collide with page ids."""
    return 7_919 * (seed % 97)


def source_of(i: int) -> str:
    return corpus.SOURCE_NAMES[i % corpus.N_SOURCES]


def robots_allowed(i: int) -> bool:
    return not ("/private/" in corpus.url_for(i)
                and i % corpus.N_SOURCES != NO_ROBOTS_SOURCE)


def write_pages(out_dir: str, indices: list[int], files: int, prefix: str = "part") -> None:
    """Pages table rows (BASELINE input_hint + content_type) for
    ``indices``, split in order over ``files`` parquet files, so a scan
    has as many splits as a generated corpus would."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(indices) // files)
    for k in range(files):
        chunk = indices[k * per:(k + 1) * per]
        html, text = zip(*(corpus.html_for(i) for i in chunk)) if chunk else ((), ())
        table = pa.table({
            "url": [corpus.url_for(i) for i in chunk],
            "warc_ts": [_EPOCH + dt.timedelta(seconds=i) for i in chunk],
            "html": [h.encode("utf-8") for h in html],
            "text": list(text),
            "lang": ["en" if i % 10 else "de" for i in chunk],
            "content_type": [corpus.content_type_for(i) for i in chunk],
        }, schema=_PAGES_ARROW)
        pq.write_table(table, os.path.join(out_dir, f"{prefix}-{k:05d}.parquet"))


def _loc(i: int) -> str:
    # every 8th loc carries the dirty whitespace corpus.build_sitemaps
    # uses to exercise loc normalization
    loc = corpus.url_for(i)
    return f"  {loc}\n " if i % 8 == 1 else loc


def _urlset(indices: list[int]) -> str:
    entries = "\n".join(
        f"  <url><loc>{_loc(i)}</loc><lastmod>2024-01-01</lastmod></url>"
        for i in indices
    )
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
            f"{entries}\n</urlset>\n")


def sitemaps(indices: list[int], child_urls: int | None = None) -> dict[str, str]:
    """sitemap url → XML for every source's share of ``indices``.
    ``child_urls=None`` gives one ``<urlset>`` per source at
    ``<host>/sitemap.xml``; otherwise that URL is a ``<sitemapindex>``
    whose children list at most ``child_urls`` locs each."""
    per_source: dict[str, list[int]] = {n: [] for n in corpus.SOURCE_NAMES}
    for i in indices:
        per_source[source_of(i)].append(i)
    out = {}
    for k, name in enumerate(corpus.SOURCE_NAMES):
        host, idx = corpus.HOSTS[k], per_source[name]
        if child_urls is None:
            out[f"{host}/sitemap.xml"] = _urlset(idx)
            continue
        children = []
        for c, lo in enumerate(range(0, len(idx), child_urls)):
            child = f"{host}/sitemap-{c}.xml"
            out[child] = _urlset(idx[lo:lo + child_urls])
            children.append(f"  <sitemap><loc>{child}</loc></sitemap>")
        out[f"{host}/sitemap.xml"] = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
            + "\n".join(children) + "\n</sitemapindex>\n"
        )
    return out


def page_documents(i: int) -> list[tuple[str, str]]:
    """(fixed jsonld, unique_id) of every document page i stores,
    in extraction order — the zero-doc text fallback included."""
    docs = corpus.expected_documents_for_page(i)
    if not docs:
        docs = ex.extract_from_text_fallback(corpus.html_for(i)[1])
    src = _SOURCES[source_of(i)]
    paths = [src.identifier_path] if src.identifier_path else []
    out = []
    for d in docs:
        if d == "":
            continue
        fixed, _sha = fx.process_json(d, src.fix_context_option)
        uid = ident.generate_identifier(src.identifier_type, paths, fixed).unique_id
        out.append((fixed, uid))
    return out


@dataclass
class Expected:
    """Oracle counts for one harvest of ``fetched`` pages."""

    frontier: int
    fetched: int
    extracted: int
    new_documents: int
    keys: frozenset  # every (source, unique_id) the lake holds afterwards
    docs_by_url: dict  # url → set of fixed jsonld the page may store


def expect(listed: list[int], snapshot: set[int], docs: dict[int, list],
           seen: frozenset = frozenset()) -> Expected:
    """Counts for a harvest whose sitemaps list ``listed`` over a pages
    snapshot holding ``snapshot``, into a lake already holding ``seen``.
    ``docs`` maps each snapshot page to its ``page_documents``."""
    frontier = [i for i in listed if robots_allowed(i)]
    fetched = [i for i in frontier if i in snapshot]
    keys, extracted, docs_by_url = set(seen), 0, {}
    for i in fetched:
        extracted += len(docs[i])
        docs_by_url[corpus.url_for(i)] = {fixed for fixed, _ in docs[i]}
        keys.update((source_of(i), uid) for _, uid in docs[i])
    return Expected(
        frontier=len(frontier), fetched=len(fetched), extracted=extracted,
        new_documents=len(keys) - len(seen), keys=frozenset(keys),
        docs_by_url=docs_by_url,
    )
