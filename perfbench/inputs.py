"""Input builders for the benchmark.

Everything the program reads is built here and written under the
benchmark's work directory; nothing outside the checkout is read.
Same inputs, same bytes (``test_perfbench.py`` pins it).

- ``ladder_warehouse``: ``scripts/scale_ladder.build_rung`` in twin
  mode over ``perfbench/warehouse``, a byte-for-byte copy of the sf0.01
  test warehouse the queries and their DuckDB oracles are written
  against. Twin rows repeat the base content, so the warehouse does not
  depend on the seed; the seed sets the query order instead.
- ``mart_expected``: the DuckDB oracle's result of each query of the
  mix on that warehouse, for the output checks.
- ``news_corpus``: fixture link pages and article pages for the
  News_Ingestion DAG, with a seeded share of records that fail
  ``news_record_rules`` and of author names that fail
  ``AUTHOR_NAME_RE``, plus the mart row counts the DAG must produce,
  computed here in plain Python.
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE_WAREHOUSE = os.path.join(HERE, "warehouse")

# the analyst's dashboard session (the seed shuffles the order)
MART_MIX = [
    "q1_pricing_summary",
    "q2_enriched_join_dedup",
    "q7_daily_timeseries",
    "q8_top_words",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_volume",
    "tpch_q8_market_share",
    "j7_disjunctive_min",
    "p12_top_n_per_group",
    "news_transformed",
    "news_articles_mart",
    "news_dashboard_avg_by_bias",
    "events_sessionize_stats",
    "events_asof_attribution",
    "scd2_user_history",
    "stream_windowed_counts",
]
WAREHOUSE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ROW_GROUP = 100_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=_ROW_GROUP)


def ladder_warehouse(out: str, k: int) -> dict:
    """``build_rung(k, "twin")`` over the test warehouse in
    ``perfbench/warehouse``; returns the input's row counts and bytes.
    A finished build is reused."""
    marker = os.path.join(out, "INPUT.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import scale_ladder

    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")  # byte-stable output
        scale_ladder.SRC = BASE_WAREHOUSE
        scale_ladder.build_rung(con, k, out, "twin")
    finally:
        con.close()
    info = {"rows": {}, "bytes": 0}
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            info["rows"][f.removesuffix(".parquet")] = pq.ParquetFile(
                os.path.join(out, f)
            ).metadata.num_rows
            info["bytes"] += os.path.getsize(os.path.join(out, f))
    with open(marker, "w") as fh:
        json.dump(info, fh)
    return info


def mart_expected(wh: str) -> str:
    """Compute (or reuse) each mix query's DuckDB-oracle result on the
    warehouse ``wh``, in canonical form; returns the file's path. The
    warehouse does not depend on the seed, so one computation serves
    every run."""
    path = os.path.join(wh, "EXPECTED.json")
    if not os.path.exists(path):
        sys.path.insert(0, ROOT)
        from canadiannewsdatapipeline_spark.queries import QUERIES

        expected = checks.oracle_results(
            wh, WAREHOUSE_TABLES, {n: QUERIES[n].oracle for n in MART_MIX}
        )
        with open(path + ".tmp", "w") as fh:
            json.dump(expected, fh)
        os.replace(path + ".tmp", path)
    return path


# --- news fixture corpus -------------------------------------------------

NEWS_SOURCES = ["globe", "post", "ledger", "herald"]
_FIRST = "Ann Bob Cai Dana Eli Fay Gus Hana Ivo Jun Kim Lea Max Noor Omar Pia".split()
_LAST = "Smith Jones Wu Roy Tremblay Gagnon Singh Chen Lavoie Brown Côté Leblanc".split()
_BAD_NAMES = ["J0hn Doe", "Ann_Smith", "R2 D2", "Kim #Lee"]
# operators.validate.AUTHOR_NAME_RE as the plain-Python reference (the
# module imports pyspark, which the input generator does without)
_AUTHOR_NAME_RE = re.compile(r"^[A-Za-zÀ-ÖØ-öø-ÿ'\.+ -]+$")
_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()


def _article_html(title, date, authors, email, body) -> str:
    parts = []
    if title is not None:
        parts.append(f"<h1>{title}</h1>")
    parts.append('<meta name="description" content="Summary of story">')
    if date is not None:
        parts.append(f"<time>{date}</time>")
    parts.append(f"<address>{', '.join(authors)}</address>")
    parts.append(f"<p>{body}</p><p>Contact {email} for details.</p>")
    return "".join(parts)


def news_corpus(out: str, seed: int, pages_per_source: int) -> dict:
    """Write ``link_pages.parquet`` (source, base_url, html) and
    ``articles.parquet`` (url, html); return the expected mart counts.

    Each article lists one or two distinct authors; the first author's
    address is the page's only email. About 6% of pages lack a title or
    a date (rejected by ``news_record_rules``) and about 6% of author
    names fail ``AUTHOR_NAME_RE`` (nulled, then dropped by the model)."""
    marker = os.path.join(out, "INPUT.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    os.makedirs(out, exist_ok=True)
    g = _rng(seed, "news")
    links, urls, htmls = [], [], []
    articles, authors, bridge, live_sources = set(), set(), set(), set()
    for s in NEWS_SOURCES:
        base = f"https://{s}.ca"
        anchors = []
        for i in range(pages_per_source):
            path = f"/politics/{s}-{seed}-{i}"
            anchors.append(f'<a href="{path}">story {i}</a>')
            if g.random() < 0.2:
                anchors.append(f'<a href="/sports/{s}-{i}">score</a>')
            if g.random() < 0.05:
                anchors.append(f'<a href="{path}">again</a>')  # duplicate link
            n_auth = 1 + int(g.random() < 0.3)
            names: list[str] = []
            while len(names) < n_auth:
                if g.random() < 0.06:
                    nm = _BAD_NAMES[int(g.integers(0, len(_BAD_NAMES)))]
                else:
                    nm = f"{_FIRST[int(g.integers(0, 16))]} {_LAST[int(g.integers(0, 12))]}"
                if nm not in names:
                    names.append(nm)
            first, last = re.split(r"[ _]", names[0], maxsplit=1)
            email = f"{first}.{last}@{s}.ca".lower().replace("#", "")
            email = re.sub(r"[^a-z0-9.@]", "x", email)
            r = g.random()
            title = None if r < 0.03 else f"Story {i} from {s}"
            date = (
                None
                if 0.03 <= r < 0.06
                else f"{_MONTHS[int(g.integers(0, 12))]} {int(g.integers(1, 29))}, 2024"
            )
            words = " ".join(_WORDS[j] for j in g.integers(0, len(_WORDS), 40))
            body = f"Story {s} {seed} {i:06d} reports {words}."
            urls.append(base + path)
            htmls.append(_article_html(title, date, names, email, body))
            if title is None or date is None:
                continue
            good = [nm for nm in names if _AUTHOR_NAME_RE.match(nm)]
            if not good:
                continue
            articles.add((s, i))
            live_sources.add(s)
            for nm in good:
                fn_, ln_ = nm.split(" ", 1)
                authors.add((fn_, ln_, email))
                bridge.add((s, i, nm))
        links.append((s, base, "<html>" + "".join(anchors) + "</html>"))
    _write(
        pa.table(
            {
                "source": [x[0] for x in links],
                "base_url": [x[1] for x in links],
                "html": [x[2] for x in links],
            }
        ),
        os.path.join(out, "link_pages.parquet"),
    )
    _write(pa.table({"url": urls, "html": htmls}), os.path.join(out, "articles.parquet"))
    info = {
        "rows": {"link_pages": len(links), "articles": len(urls)},
        "bytes": sum(
            os.path.getsize(os.path.join(out, f))
            for f in ("link_pages.parquet", "articles.parquet")
        ),
        "expected": {
            "articles": len(articles),
            "authors": len(authors),
            "sources": len(live_sources),
            "article_author_join_table": len(bridge),
        },
    }
    with open(marker, "w") as fh:
        json.dump(info, fh)
    return info

