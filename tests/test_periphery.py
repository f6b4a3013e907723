"""Periphery: feed source, JSON sink, CSV ingest."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from scrape_spark.operators.json_sink import (
    json_array_string,
    metadata_json_col,
    parse_metadata_json,
    result_json,
)
from scrape_spark.sources.feed import feed_to_requests, parse_feeds

RSS = """<?xml version="1.0"?><rss><channel><title>My Feed</title>
<item><title>A1</title><link>https://ex.test/a1</link></item>
<item><title>A2</title><link> https://ex.test/a2 </link></item>
</channel></rss>"""

ATOM = """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
<title>Atom Feed</title>
<entry><title>B1</title><link rel="alternate" href="https://ex.test/b1"/></entry>
</feed>"""


def test_feed_parse_and_fanout(spark):
    df = spark.createDataFrame(
        [("https://ex.test/rss", RSS), ("https://ex.test/atom", ATOM), ("https://ex.test/empty", "")],
        ["feed_url", "xml"],
    )
    feeds = parse_feeds(df)
    rows = {r.feed_url: r for r in feeds.collect()}
    assert rows["https://ex.test/rss"].feed_title == "My Feed"
    assert [i.link for i in rows["https://ex.test/rss"].items] == [
        "https://ex.test/a1",
        "https://ex.test/a2",
    ]
    assert [i.link for i in rows["https://ex.test/atom"].items] == ["https://ex.test/b1"]
    assert rows["https://ex.test/empty"].items == []
    reqs = feed_to_requests(feeds)
    assert reqs.count() == 3
    assert set(reqs.columns) == {"feed_url", "url"}


# Hardened-parser vectors: CDATA titles, entity escapes, atom rel
# preference and rel-less links (gofeed handles these via its XML parser —
# fetch/feed/feed.go:95-117; RFC 4287 §4.2.7.2: missing rel ≙ alternate).
CDATA_RSS = """<?xml version="1.0"?><rss><channel>
<title><![CDATA[Feed & Friends]]></title>
<item><title><![CDATA[C1 <em>big</em>]]></title><link>https://ex.test/c1</link></item>
<item><title>Fish &amp; Chips &#38; Tea</title><link>https://ex.test/c2</link></item>
</channel></rss>"""

ATOM_RELS = """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
<title>Rel Feed</title>
<entry><title>D1</title>
  <link rel="self" href="https://ex.test/self1"/>
  <link rel="alternate" href="https://ex.test/d1"/>
</entry>
<entry><title>D2</title>
  <link rel="enclosure" href="https://ex.test/d2.mp3"/>
  <link href="https://ex.test/d2"/>
</entry>
<entry><title>D3</title>
  <link rel="self" href="https://ex.test/self3"/>
</entry>
</feed>"""


def test_feed_to_batch_extract_end_to_end(spark):
    """The reference's /feed endpoint: parse the feed, then batch-extract
    every item link (api/server.go:330-333) — run the same composition
    through the engine."""
    from scrape_spark.plans.batch_extract import batch_extract
    from scrape_spark.sources.pages import page_url, synth_pages

    pages = synth_pages(spark, n_hosts=2, per_host=10)
    xml = (
        "<rss><channel><title>F</title>"
        f"<item><title>a</title><link>{page_url(0, 1)}</link></item>"
        f"<item><title>b</title><link>{page_url(1, 2)}?utm_source=feed</link></item>"
        "</channel></rss>"
    )
    feeds = parse_feeds(spark.createDataFrame([("https://f.test/rss", xml)], ["feed_url", "xml"]))
    out = batch_extract(spark, feed_to_requests(feeds), pages, store=None).collect()
    assert len(out) == 2
    by_url = {r.parsed_url: r for r in out}
    assert by_url[page_url(0, 1)].error is None and by_url[page_url(0, 1)].content_text
    # utm params stripped during canonicalization, like any batch request
    assert by_url[page_url(1, 2)].original_url.endswith("?utm_source=feed")


def test_feed_cdata_titles_and_entities(spark):
    df = spark.createDataFrame([("u", CDATA_RSS)], ["feed_url", "xml"])
    row = parse_feeds(df).collect()[0]
    assert row.feed_title == "Feed & Friends"
    assert [i.title for i in row.items] == ["C1 <em>big</em>", "Fish & Chips & Tea"]
    assert [i.link for i in row.items] == ["https://ex.test/c1", "https://ex.test/c2"]


def test_feed_atom_rel_preference(spark):
    df = spark.createDataFrame([("u", ATOM_RELS)], ["feed_url", "xml"])
    row = parse_feeds(df).collect()[0]
    links = [i.link for i in row.items]
    # alternate beats self; rel-less IS alternate; lone self is the fallback
    assert links == ["https://ex.test/d1", "https://ex.test/d2", "https://ex.test/self3"]


def test_json_sink_omitempty_and_notext(spark):
    df = spark.createDataFrame(
        [(1, "https://a.test/x", None, "body text", ["A"])],
        "key long, url string, error string, content_text string, authors array<string>",
    )
    full = json.loads(result_json(df).collect()[0].json)
    assert "error" not in full  # omit-empty parity
    assert full["content_text"] == "body text"
    notext = json.loads(result_json(df, drop_text=True).collect()[0].json)
    assert "content_text" not in notext
    arr = json.loads(json_array_string(df))
    assert isinstance(arr, list) and len(arr) == 1


def test_metadata_blob_skiplist_roundtrip(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(5, "https://c.test/p", "https://c.test/p?x=1", "t", "text", "en")],
        ["key", "url", "parsed_url", "title", "content_text", "language"],
    )
    blob = df.select(metadata_json_col(df).alias("m"))
    m = json.loads(blob.collect()[0].m)
    # skip-list applied: canonical url / content_text excluded from the blob
    assert set(m) == {"parsed_url", "title", "language"}
    schema = T.StructType(
        [
            T.StructField("parsed_url", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("language", T.StringType()),
        ]
    )
    back = blob.select(parse_metadata_json(F.col("m"), schema).alias("s")).collect()[0].s
    assert back.title == "t" and back.language == "en"


def test_csv_url_source(spark, tmp_path):
    # S4: CSV URL list with selectable column (cmd/scrape/main.go:96-120)
    p = str(tmp_path / "urls.csv")
    with open(p, "w") as f:
        f.write("id,link\n1,https://a.test/1\n2,https://a.test/2\n")
    urls = spark.read.option("header", True).csv(p).select(F.col("link").alias("url"))
    assert [r.url for r in urls.orderBy("url").collect()] == [
        "https://a.test/1",
        "https://a.test/2",
    ]


def test_feed_rss10_rdf_items(spark):
    """RSS 1.0 (RDF): <item rdf:about=...> elements are SIBLINGS of
    <channel>, not children — gofeed's RSS 1.0 translator flattens them
    identically (fetch/feed/feed.go:95-117)."""
    xml = (
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns="http://purl.org/rss/1.0/">\n'
        '<channel rdf:about="https://rdf.test/">\n'
        "  <title>RDF Feed</title>\n  <link>https://rdf.test/</link>\n"
        "  <items><rdf:Seq><rdf:li resource=\"https://rdf.test/a1\"/></rdf:Seq></items>\n"
        "</channel>\n"
        '<image rdf:about="https://rdf.test/logo"><title>Logo title</title></image>\n'
        '<item rdf:about="https://rdf.test/a1">\n'
        "  <title>First RDF item</title>\n  <link>https://rdf.test/a1</link>\n</item>\n"
        '<item rdf:about="https://rdf.test/a2">\n'
        "  <title>Second RDF item</title>\n  <link>https://rdf.test/a2</link>\n</item>\n"
        "</rdf:RDF>\n"
    )
    row = parse_feeds(
        spark.createDataFrame([("https://rdf.test/feed.rdf", xml)], ["feed_url", "xml"])
    ).collect()[0]
    assert row.feed_title == "RDF Feed"  # channel title, not the image title
    assert [i.link for i in row.items] == ["https://rdf.test/a1", "https://rdf.test/a2"]
    assert [i.title for i in row.items] == ["First RDF item", "Second RDF item"]


def test_feed_xml_base_resolution(spark):
    """xml:base scope chain (XML Base spec, honored by gofeed's resolver):
    feed URL <- root xml:base <- entry xml:base <- link xml:base, relative
    hrefs resolved at the innermost scope."""
    xml = (
        '<feed xmlns="http://www.w3.org/2005/Atom" xml:base="https://base.test/feedroot/">\n'
        "<title>Based</title>\n"
        "<entry><title>root-based</title>"
        '<link rel="alternate" href="articles/a1"/></entry>\n'
        '<entry xml:base="/section/"><title>entry-based</title>'
        '<link rel="alternate" href="a2"/></entry>\n'
        "<entry><title>link-based</title>"
        '<link rel="alternate" xml:base="https://other.test/x/" href="a3"/></entry>\n'
        "<entry><title>absolute</title>"
        '<link rel="alternate" href="https://abs.test/a4"/></entry>\n'
        "</feed>\n"
    )
    row = parse_feeds(
        spark.createDataFrame([("https://origin.test/f.xml", xml)], ["feed_url", "xml"])
    ).collect()[0]
    assert [i.link for i in row.items] == [
        "https://base.test/feedroot/articles/a1",  # root xml:base
        "https://base.test/section/a2",            # entry xml:base (absolute path)
        "https://other.test/x/a3",                 # link xml:base
        "https://abs.test/a4",                     # absolute href untouched
    ]
    # RSS relative links resolve against the feed URL when no xml:base
    rss = (
        "<rss><channel><title>Rel</title>"
        "<item><title>r</title><link>/art/5</link></item>"
        "</channel></rss>"
    )
    row2 = parse_feeds(
        spark.createDataFrame([("https://rss.test/feed", rss)], ["feed_url", "xml"])
    ).collect()[0]
    assert row2.items[0].link == "https://rss.test/art/5"


def test_feed_multiple_alternates_hreflang(spark):
    """Multiple rel=alternate links (per-hreflang variants): the FIRST in
    document order wins — gofeed's firstLinkWithType behavior; self/
    enclosure rels never shadow an alternate."""
    xml = (
        '<feed xmlns="http://www.w3.org/2005/Atom"><title>ML</title>\n'
        "<entry><title>multi</title>\n"
        '<link rel="self" href="https://ml.test/entry.atom"/>\n'
        '<link rel="alternate" hreflang="de" href="https://ml.test/de/artikel"/>\n'
        '<link rel="alternate" hreflang="en" href="https://ml.test/en/article"/>\n'
        '<link rel="enclosure" href="https://ml.test/audio.mp3"/>\n'
        "</entry></feed>"
    )
    row = parse_feeds(
        spark.createDataFrame([("https://ml.test/f", xml)], ["feed_url", "xml"])
    ).collect()[0]
    assert [i.link for i in row.items] == ["https://ml.test/de/artikel"]


def test_feed_refresh_cadence(spark):
    """feed_refresh semantics (migrations/00003_feed_refresh.sql): request
    upserts with defaults, due = overdue-by-interval AND not idle, refresh
    resets the clock, idle feeds drop out, re-request keeps cadence state."""
    from scrape_spark.sources.feed_refresh import (
        DEFAULT_IDLE_TIMEOUT,
        DEFAULT_REFRESH_INTERVAL,
        FEED_REFRESH_SCHEMA,
        due_feeds,
    )
    from tests.helpers import record_refresh, record_request

    now = 1_000_000
    empty = spark.createDataFrame([], FEED_REFRESH_SCHEMA)
    reqs = spark.createDataFrame([("a",), ("b",)], ["url"])
    feeds = record_request(empty, reqs, now)
    rows = {r.url: r for r in feeds.collect()}
    assert rows["a"].last_request == now
    assert rows["a"].last_refresh == 0
    assert rows["a"].refresh_interval == DEFAULT_REFRESH_INTERVAL
    # never-refreshed feeds are immediately due
    assert {r.url for r in due_feeds(feeds, now + 1).collect()} == {"a", "b"}
    # refresh a -> only b remains due
    feeds2 = record_refresh(feeds, spark.createDataFrame([("a",)], ["url"]), now + 2)
    assert {r.url for r in due_feeds(feeds2, now + 3).collect()} == {"b"}
    # a re-enters once its interval elapses
    assert {
        r.url for r in due_feeds(feeds2, now + 2 + DEFAULT_REFRESH_INTERVAL).collect()
    } == {"a", "b"}
    # idle feeds (no request within idle_timeout) drop out entirely
    assert due_feeds(feeds2, now + DEFAULT_IDLE_TIMEOUT + 10).count() == 0
    # re-request bumps last_request but keeps refresh state
    feeds3 = record_request(feeds2, spark.createDataFrame([("a",)], ["url"]), now + 100)
    a3 = {r.url: r for r in feeds3.collect()}["a"]
    assert a3.last_request == now + 100
    assert a3.last_refresh == now + 2


# Item-metadata tail (gofeed.Item fields the reference's /feed API returns
# verbatim, resource/feed.go:9-21): guid, pubDate/published (+parsed ts),
# description/summary, author incl. dc:creator, categories, enclosures.
META_RSS = """<?xml version="1.0"?><rss xmlns:dc="http://purl.org/dc/elements/1.1/"><channel>
<title>Podcasts</title>
<item>
 <title>Ep 1</title><link>https://pod.test/ep1</link>
 <guid>tag:pod.test,2026:ep1</guid>
 <pubDate>Mon, 02 Feb 2026 10:30:00 GMT</pubDate>
 <description><![CDATA[First & best episode]]></description>
 <dc:creator>Casey Caster</dc:creator>
 <category>tech</category><category>audio</category>
 <enclosure url="https://pod.test/ep1.mp3" type="audio/mpeg" length="123456"/>
</item>
</channel></rss>"""

META_ATOM = """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
<title>Atom Pod</title>
<entry>
 <title>E2</title><link rel="alternate" href="https://pod.test/e2"/>
 <id>urn:uuid:e2</id>
 <published>2026-03-04T05:06:07Z</published>
 <summary>Second one</summary>
 <author><name>Addie Atom</name></author>
 <category term="science"/>
 <link rel="enclosure" href="https://pod.test/e2.ogg" type="audio/ogg" length="999"/>
</entry>
</feed>"""


def test_feed_item_metadata_tail(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [("https://pod.test/rss", META_RSS), ("https://pod.test/atom", META_ATOM)],
        ["feed_url", "xml"],
    )
    rows = {r.feed_url: r for r in parse_feeds(df).collect()}
    it = rows["https://pod.test/rss"].items[0]
    assert it.link == "https://pod.test/ep1"
    assert it.guid == "tag:pod.test,2026:ep1"
    assert it.published == "Mon, 02 Feb 2026 10:30:00 GMT"
    assert it.published_ts == dt.datetime(2026, 2, 2, 10, 30)
    assert it.description == "First & best episode"
    assert it.author == "Casey Caster"
    assert it.categories == ["tech", "audio"]
    assert (it.enclosure_url, it.enclosure_type, it.enclosure_length) == (
        "https://pod.test/ep1.mp3", "audio/mpeg", 123456,
    )
    at = rows["https://pod.test/atom"].items[0]
    assert at.link == "https://pod.test/e2"
    assert at.guid == "urn:uuid:e2"
    assert at.published_ts == dt.datetime(2026, 3, 4, 5, 6, 7)
    assert at.description == "Second one"
    assert at.author == "Addie Atom"
    assert at.categories == ["science"]
    assert (at.enclosure_url, at.enclosure_type, at.enclosure_length) == (
        "https://pod.test/e2.ogg", "audio/ogg", 999,
    )


PODCAST_RSS = """<?xml version="1.0"?><rss
 xmlns:itunes="http://www.itunes.com/dtds/podcast-1.0.dtd"
 xmlns:media="http://search.yahoo.com/mrss/"
 xmlns:podcast="https://podcastindex.org/namespace/1.0"><channel>
<title>Ext Pod</title>
<item>
 <title>X1</title><link>https://pod.test/x1</link>
 <itunes:duration>30:00</itunes:duration>
 <itunes:author>Ivy Tunes</itunes:author>
 <itunes:episode>7</itunes:episode>
 <itunes:image href="https://pod.test/x1.jpg"/>
 <media:content url="https://pod.test/x1.mp4" type="video/mp4" duration="1800"/>
 <media:content url="https://pod.test/x1-alt.mp4"/>
 <media:thumbnail url="https://pod.test/x1-thumb.jpg"/>
 <podcast:transcript url="https://pod.test/x1.srt" type="application/srt"/>
 <media:title>Media &amp; Title</media:title>
</item>
</channel></rss>"""


def test_feed_namespaced_extensions(spark):
    """gofeed.Item.Extensions analog: iTunes / Media RSS / podcast-index
    namespaced tags are captured generically as a flat "ns:tag"[@attr] map
    (first occurrence wins), alongside the translated core fields."""
    df = spark.createDataFrame([("u", PODCAST_RSS)], ["feed_url", "xml"])
    it = parse_feeds(df).collect()[0].items[0]
    ext = it.extensions
    assert ext["itunes:duration"] == "30:00"
    assert ext["itunes:author"] == "Ivy Tunes"
    assert ext["itunes:episode"] == "7"
    assert ext["itunes:image@href"] == "https://pod.test/x1.jpg"
    assert ext["media:content@url"] == "https://pod.test/x1.mp4"  # first wins
    assert ext["media:content@type"] == "video/mp4"
    assert ext["media:content@duration"] == "1800"
    assert ext["media:thumbnail@url"] == "https://pod.test/x1-thumb.jpg"
    assert ext["podcast:transcript@url"] == "https://pod.test/x1.srt"
    assert ext["media:title"] == "Media & Title"  # entity-unescaped text
    # extension-free feeds keep a null map, and dc: folds stay translated
    df2 = spark.createDataFrame([("u", CDATA_RSS)], ["feed_url", "xml"])
    assert parse_feeds(df2).collect()[0].items[0].extensions is None
