"""End-to-end News_Ingestion pipeline: fixture pages -> marts."""

from __future__ import annotations

from canadiannewsdatapipeline_spark.operators.quality import (
    checks_summary,
    relationship_violations,
    unique_violations,
)
from canadiannewsdatapipeline_spark.plans.pipeline import (
    combine_sources,
    extract_source,
    load_raw_news,
    news_model_dag,
    run_ingestion,
)
from canadiannewsdatapipeline_spark.sources.scrape import FixtureFetcher, fixture_parser


def _article(title: str, author: str, body: str, date: str = "Mar 4, 2024") -> str:
    return (
        f"<h1>{title}</h1>"
        f'<meta name="description" content="{title} desc">'
        f"<time>{date}</time>"
        f"<address>{author}</address>"
        f"<p>{body}</p><p>Reach {author.split()[0].lower()}@mail.ca now.</p>"
    )


def test_run_ingestion_end_to_end(spark, tmp_path):
    pages_g = spark.createDataFrame(
        [("globe", "https://g.ca",
          '<a href="/politics/a1">x</a><a href="/politics/a2">y</a>')],
        "source string, base_url string, html string",
    )
    pages_p = spark.createDataFrame(
        [("post", "https://p.ca", '<a href="/politics/b1">z</a>')],
        "source string, base_url string, html string",
    )
    fetcher = FixtureFetcher(
        {
            "https://g.ca/politics/a1": _article("Budget Passes", "Ann Smith", "Vote happened."),
            "https://g.ca/politics/a2": _article("Rates Hold", "Bob Jones", "Bank said so."),
            "https://p.ca/politics/b1": _article("Trade Deal", "Cai Wu", "Signed today."),
        }
    )
    out = run_ingestion(
        spark,
        {"globe": pages_g, "post": pages_p},
        fetcher,
        fixture_parser,
        run_ts="2024-03-05 00:00:00",
        warehouse_dir=str(tmp_path),
    )
    arts, auths = out["articles"], out["authors"]
    assert arts.count() == 3
    assert {r.first_name for r in auths.collect()} == {"Ann", "Bob", "Cai"}
    # marts materialized to the warehouse
    assert (tmp_path / "articles").exists()
    # star integrity holds end-to-end
    summary = {
        r.check_name: r.n_violations
        for r in checks_summary(
            [
                ("unique", unique_violations(arts, ["article_id"])),
                ("fk", relationship_violations(
                    out["article_author_join_table"], "article_id", arts, "article_id")),
            ]
        ).collect()
    }
    assert summary == {"unique": 0, "fk": 0}
    # emails were enriched from page bodies
    emails = {r.author_email for r in auths.collect()}
    assert "ann@mail.ca" in emails


_MARTS = ("articles", "authors", "sources", "article_author_join_table")


def _rows(df):
    return sorted((tuple(str(v) for v in r) for r in df.collect()))


def test_single_lineage_extract_matches_per_source_union(spark, tmp_path):
    """run_ingestion extracts all sources in one lineage; its marts must
    equal the per-source extract + combine form row for row, with the
    top-n cut still applied per source."""
    schema = "source string, base_url string, html string"
    links = lambda paths: "".join(f'<a href="{p}">l</a>' for p in paths)  # noqa: E731
    pages = {
        # more links than n_articles (one repeated): the first 2 distinct
        "globe": spark.createDataFrame([("globe", "https://g.ca", links(
            ["/politics/a1", "/politics/a2", "/politics/a1", "/politics/a3",
             "/politics/a4"]))], schema),
        "post": spark.createDataFrame(
            [("post", "https://p.ca", links(["/politics/b1"]))], schema),
        # no link matches the keyword: the source yields no rows
        "herald": spark.createDataFrame(
            [("herald", "https://h.ca", links(["/sports/c1", "/arts/c2"]))], schema),
        "sun": spark.createDataFrame([("sun", "https://s.ca", links(
            ["https://s.ca/politics/d1", "/politics/d2", "/politics/d3"]))], schema),
    }
    people = ["Ann Smith", "Bob Jones", "Cai Wu", "Dee Park", "Eve Moss",
              "Fay Lin", "Gus Hale", "Hal Tran", "Ida Roy", "Jo Kim"]
    urls = ["https://g.ca/politics/a1", "https://g.ca/politics/a2",
            "https://g.ca/politics/a3", "https://g.ca/politics/a4",
            "https://p.ca/politics/b1", "https://h.ca/sports/c1",
            "https://s.ca/politics/d1", "https://s.ca/politics/d2",
            "https://s.ca/politics/d3"]
    fetcher = FixtureFetcher({
        u: _article(f"Story {i}", f"{people[i]}, {people[(i + 1) % 10]}", f"Body {i}.")
        for i, u in enumerate(urls)
    })
    run_ts = "2024-03-05 00:00:00"

    single = run_ingestion(spark, pages, fetcher, fixture_parser, run_ts=run_ts,
                           warehouse_dir=str(tmp_path / "single"), n_articles=2)

    extracts = [
        extract_source(p, fetcher, fixture_parser, n_articles=2)
        for _, p in sorted(pages.items())
    ]
    raw = load_raw_news(combine_sources(extracts), run_ts)
    per_source = news_model_dag(spark, str(tmp_path / "per_source")).run(
        {"raw_news": raw})

    for name in _MARTS:
        assert single[name].columns == per_source[name].columns, name
        assert _rows(single[name]) == _rows(per_source[name]), name

    # top-n per source: globe keeps its first 2 distinct links, sun its
    # first 2, post its only one, herald none
    by_source = {
        r["news_source_name"]: r["n"]
        for r in single["articles"]
        .join(single["sources"], "source_id")
        .groupBy("news_source_name")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert by_source == {"globe": 2, "post": 1, "sun": 2}
    titles = {r.title for r in single["articles"].collect()}
    assert titles == {"Story 0", "Story 1", "Story 4", "Story 6", "Story 7"}


def test_run_ingestion_without_sources_raises(spark):
    import pytest

    with pytest.raises(ValueError):
        run_ingestion(spark, {}, FixtureFetcher({}), fixture_parser,
                      run_ts="2024-03-05 00:00:00")
