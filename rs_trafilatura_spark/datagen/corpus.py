"""Deterministic synthetic page corpus (FIXTURES.md) — the correctness gate.

Each family renders an HTML template around seeded lorem blocks AND computes
the byte-exact golden `text` the extraction cascade must produce (blocks
joined with \\n\\n, table rows as ``cell | cell`` lines, li/br as \\n,
whitespace collapsed — reference extract.rs:2540-2544, :2649-2658,
:3081-3118).  Hosts are drawn zipfian from 100 synthetic domains so the
salting/skew machinery has something real to chew on.

Everything is seeded per-row (seed, index) so any prefix of the sequence is
stable and tiers are prefixes of one deterministic stream (FIXTURES.md §1).

The golden-gate job runs with Options(deduplicate=True); the `duplicates`
family's golden assumes it (4th occurrence of a >100-char block dropped).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

_WORDS = (
    "amber basin cedar delta ember fjord grove harbor inlet juniper kestrel "
    "larch meadow nectar orchard prairie quarry ridge summit thicket upland "
    "valley willow zenith breeze canyon drift eddy flume glacier hollow "
    "isle knoll lagoon mesa notch outcrop pond quill reef shoal terrace "
    "umbra vista wharf yonder arbor bluff cove dune elm fern glen heath"
).split()

_FAMILIES = (
    ("article_plain", 20),
    ("article_boilerplate", 11),
    ("main_only", 6),
    ("heuristic_div", 6),
    ("entry_content", 6),
    ("jsonld_body", 6),
    ("tables", 7),
    ("duplicates", 5),
    ("encodings", 5),
    ("metadata_rich", 8),
    ("forum_thread", 5),
    ("docs_page", 4),
    ("product_page", 4),
    ("listing_page", 4),
    ("category_page", 3),
    ("service_page", 3),
    ("split_body", 3),
    ("short_fallback", 2),
    ("boilerplate_only", 2),
    ("malformed", 1),
    ("huge_page", 1),
)
_FAMILY_NAMES = tuple(f for f, _ in _FAMILIES)
_FAMILY_WEIGHTS = tuple(w for _, w in _FAMILIES)

# bump when family templates change: bench corpus caches key on this
GENERATOR_VERSION = 2

_EPOCH = datetime(2026, 1, 1)
_N_HOSTS = 100
_HOST_WEIGHTS = tuple(1.0 / k for k in range(1, _N_HOSTS + 1))  # zipf(1)

_SECTION = {
    "forum_thread": "t",
    "docs_page": "docs",
    "product_page": "products",
    "jsonld_body": "news",
    "category_page": "category",
    "service_page": "services",
}


def _sentence(rnd: random.Random, lo: int = 8, hi: int = 14) -> str:
    n = rnd.randint(lo, hi)
    words = [rnd.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rnd: random.Random, sentences: int = 3) -> str:
    return " ".join(_sentence(rnd) for _ in range(sentences))


def _paragraphs(rnd: random.Random, n: int, sentences: int = 3) -> list[str]:
    return [_paragraph(rnd, sentences) for _ in range(n)]


def _title(rnd: random.Random) -> str:
    words = [rnd.choice(_WORDS).capitalize() for _ in range(4)]
    return " ".join(words)


_NAV = (
    '<nav class="main-nav"><a href="/">Home</a> <a href="/blog">Blog</a> '
    '<a href="/about">About</a></nav>'
)


def _footer(site: str) -> str:
    return f'<footer class="site-footer">© 2026 {site}. All rights reserved.</footer>'


def _page(title: str, site: str, body: str, lang: str = "en",
          head_extra: str = "", charset: str = "utf-8") -> str:
    return (
        f'<!doctype html><html lang="{lang}"><head>'
        f'<meta charset="{charset}"><title>{title} - {site}</title>'
        f"{head_extra}</head><body>{body}</body></html>"
    )


def _ps(paras: list[str]) -> str:
    return "".join(f"<p>{p}</p>\n" for p in paras)


# --- family builders: each returns (html:str|bytes, golden:str, meta:dict) -----


def _fam_article_plain(rnd, title, site):
    lang = "de" if rnd.random() < 0.1 else "en"
    paras = _paragraphs(rnd, rnd.randint(4, 7))
    body = (
        _NAV
        + f"<article><h1>{title}</h1>\n{_ps(paras)}</article>"
        + _footer(site)
    )
    html = _page(title, site, body, lang=lang)
    return html, "\n\n".join(paras), {"stage": "main", "language": lang,
                                      "page_type": "article"}


def _fam_article_boilerplate(rnd, title, site):
    paras = _paragraphs(rnd, rnd.randint(4, 6))
    note = _sentence(rnd)
    author = rnd.choice(("Alex Larkin", "Rowan Ashe", "Casey Mori"))
    body = (
        _NAV
        + "<article>"
        + f"<h1>{title}</h1>"
        + '<nav class="in-article-nav"><a href="/x">Prev</a> <a href="/y">Next</a></nav>'
        + f'<div class="byline">By {author}</div>'
        + _ps(paras[:2])
        + '<aside class="related-widget">You may also like these other stories.</aside>'
        + '<div class="share-buttons">Facebook Twitter Pinterest</div>'
        + _ps(paras[2:])
        + f"<footer><p>{note}</p></footer>"
        + "</article>"
        + f'<div class="site-footer">About {site} and contact pages.</div>'
        + _footer(site)
    )
    html = _page(title, site, body)
    golden = "\n\n".join(paras + [note])
    return html, golden, {"stage": "main", "language": "en",
                          "page_type": "article", "author": author}


def _fam_main_only(rnd, title, site):
    paras = _paragraphs(rnd, 6)
    variant = rnd.randrange(3)
    inner = f"<h1>{title}</h1>" + _ps(paras)
    if variant == 0:
        container = f"<main>{inner}</main>"
    elif variant == 1:
        container = f'<div role="main">{inner}</div>'
    else:
        container = f'<div role="article">{inner}</div>'
    body = (
        _NAV
        + '<div class="sidebar widget-area">Popular posts and archives live here.</div>'
        + container
        + _footer(site)
    )
    return _page(title, site, body), "\n\n".join(paras), {
        "stage": "main", "language": "en", "page_type": "article"}


def _fam_heuristic_div(rnd, title, site):
    paras = _paragraphs(rnd, 7)
    links = "".join(f'<a href="/cat/{k}">{rnd.choice(_WORDS)}</a> ' for k in range(14))
    body = (
        _NAV
        + f'<div id="maintext">{_ps(paras)}</div>'
        + f"<div>{links}</div>"
        + _footer(site)
    )
    return _page(title, site, body), "\n\n".join(paras), {
        "stage": "main", "language": "en", "page_type": "article"}


def _fam_entry_content(rnd, title, site):
    paras = _paragraphs(rnd, 6)
    cls = rnd.choice(("entry-content", "post-content"))
    body = (
        _NAV
        + '<div class="widget trending">Trending now: everything.</div>'
        + f'<div class="{cls}">{_ps(paras)}</div>'
        + _footer(site)
    )
    return _page(title, site, body), "\n\n".join(paras), {
        "stage": "main", "language": "en", "page_type": "article"}


def _fam_jsonld_body(rnd, title, site):
    sentences = [_sentence(rnd) for _ in range(14)]  # >500 chars
    article_body = " ".join(sentences)
    head = (
        '<script type="application/ld+json">'
        '{"@context":"https://schema.org","@type":"NewsArticle",'
        f'"headline":"{title}","articleBody":"{article_body}"' + "}"
        "</script>"
    )
    body = _NAV + "<p>Read the full story below.</p>" + _footer(site)
    return _page(title, site, body, head_extra=head), article_body, {
        "stage": "jsonld_body", "language": "en", "page_type": "article"}


def _fam_tables(rnd, title, site):
    intro = _paragraphs(rnd, 4)
    headers = [rnd.choice(_WORDS).capitalize() for _ in range(3)]
    rows = [[rnd.choice(_WORDS) for _ in range(3)] for _ in range(4)]
    data_table = (
        "<table><tr>" + "".join(f"<th>{h}</th>" for h in headers) + "</tr>"
        + "".join(
            "<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>"
            for row in rows
        )
        + "</table>"
    )
    layout_para = _paragraph(rnd)
    layout_table = (
        '<table role="presentation"><tr><td>'
        f"<p>{layout_para}</p></td></tr></table>"
    )
    nav_links = "".join(
        f'<a href="/s/{k}">{rnd.choice(_WORDS)} {rnd.choice(_WORDS)}</a> '
        for k in range(20)
    )
    linknav_table = f"<table><tr><td>{nav_links}</td><td>{nav_links}</td></tr></table>"
    body = (
        _NAV
        + f"<article><h1>{title}</h1>{_ps(intro)}{data_table}{layout_table}{linknav_table}</article>"
        + _footer(site)
    )
    table_text = " | ".join(headers) + "\n" + "\n".join(
        " | ".join(row) for row in rows
    )
    golden = "\n\n".join(intro + [table_text, layout_para])
    return _page(title, site, body), golden, {
        "stage": "main", "language": "en", "page_type": "article"}


def _fam_duplicates(rnd, title, site):
    dup = _paragraph(rnd, 3)  # > 100 chars
    u1, u2 = _paragraph(rnd), _paragraph(rnd)
    order = [dup, u1, dup, u2, dup, dup]
    body = _NAV + f"<article><h1>{title}</h1>{_ps(order)}</article>" + _footer(site)
    golden = "\n\n".join([dup, u1, dup, u2, dup])  # 4th dup dropped
    return _page(title, site, body), golden, {
        "stage": "main", "language": "en", "page_type": "article"}


def _fam_encodings(rnd, title, site):
    variant = rnd.randrange(2)
    accents = ("café", "résumé", "naïve", "jalapeño", "über", "façade")
    paras = [
        f"{_sentence(rnd)} The {rnd.choice(accents)} met the {rnd.choice(accents)}."
        for _ in range(4)
    ]
    if variant == 0:
        charset, codec = "iso-8859-1", "latin-1"
    else:
        charset, codec = "windows-1252", "cp1252"
        paras[0] = "“Quoted wisdom” opens the piece. " + paras[0]
    body = _NAV + f"<article><h1>{title}</h1>{_ps(paras)}</article>" + _footer(site)
    html = _page(title, site, body, charset=charset).encode(codec)
    return html, "\n\n".join(paras), {
        "stage": "main", "language": "en", "page_type": "article"}


def _fam_metadata_rich(rnd, title, site):
    paras = _paragraphs(rnd, 5)
    author = rnd.choice(("Jordan Vale", "Sam Ridley", "Quinn Harper"))
    day = rnd.randint(1, 28)
    date_iso = f"2025-{rnd.randint(1, 12):02d}-{day:02d}T{rnd.randint(0, 23):02d}:15:00Z"
    head = (
        f'<meta property="og:title" content="{title}">'
        f'<meta property="og:site_name" content="{site}">'
        f'<meta name="author" content="{author}">'
        f'<meta property="article:published_time" content="{date_iso}">'
        f'<meta name="description" content="A report about {title.lower()}.">'
        f'<link rel="canonical" href="https://{site.lower().replace(" ", "")}.example/canonical">'
        '<script type="application/ld+json">'
        '{"@context":"https://schema.org","@type":"NewsArticle",'
        f'"headline":"{title}","datePublished":"{date_iso}",'
        f'"author":{{"@type":"Person","name":"{author}"}},'
        f'"publisher":{{"@type":"Organization","name":"{site}"}}' + "}"
        "</script>"
    )
    body = (
        _NAV
        + f"<article><h1>{title}</h1>{_ps(paras)}</article>"
        + _footer(site)
    )
    expected_date = datetime.strptime(date_iso, "%Y-%m-%dT%H:%M:%SZ")
    return _page(title, site, body, head_extra=head), "\n\n".join(paras), {
        "stage": "main", "language": "en", "page_type": "article",
        "author": author, "date": expected_date,
        "title": title, "sitename": site,
    }


def _fam_forum_thread(rnd, title, site):
    posts = _paragraphs(rnd, rnd.randint(4, 7), sentences=2)
    post_html = "".join(
        f'<div class="topic-post"><p>{p}</p></div>'
        f'<div class="user-info">member since 2019, 4302 posts, badges</div>'
        for p in posts
    )
    body = (
        _NAV
        + '<div itemtype="https://schema.org/DiscussionForumPosting" class="topic-body">'
        + post_html
        + "</div>"
        + _footer(site)
    )
    return _page(title, site, body), "\n\n".join(posts), {
        "stage": "main", "language": "en", "page_type": "forum"}


def _fam_docs_page(rnd, title, site):
    paras = _paragraphs(rnd, 5)
    code = "result = engine.run(plan).collect()"
    sidebar = "".join(f'<a href="/docs/{k}">Chapter {k}</a>' for k in range(12))
    body = (
        f'<nav class="docs-sidebar">{sidebar}</nav>'
        + f'<div role="main"><h1>{title}</h1>{_ps(paras[:2])}'
        + f"<pre><code>{code}</code></pre>"
        + _ps(paras[2:])
        + "</div>"
        + _footer(site)
    )
    # pre/code is not a block tag; the newline tail after the preceding </p>
    # puts the code on its own line within the same block
    golden = "\n\n".join([paras[0], f"{paras[1]}\n{code}"] + paras[2:])
    return _page(title, site, body), golden, {
        "stage": "main", "language": "en", "page_type": "documentation"}


def _fam_product_page(rnd, title, site):
    # thin DOM teaser (<100 chars) -> the reference's product-description
    # fallback fires (dom_too_short, extract.rs:292-318)
    teaser = "In stock and ships in two days."
    jsonld_desc = " ".join(_sentence(rnd) for _ in range(7))
    head = (
        '<script type="application/ld+json">'
        '{"@context":"https://schema.org","@type":"Product",'
        f'"name":"{title}","description":"{jsonld_desc}"' + "}"
        "</script>"
    )
    body = (
        _NAV
        + f'<div class="product-description"><p>{teaser}</p></div>'
        + '<div class="related-products reviews">Five stars, would buy again.</div>'
        + _footer(site)
    )
    return _page(title, site, body, head_extra=head), jsonld_desc, {
        "stage": "jsonld_product", "language": "en", "page_type": "product"}


def _fam_listing_page(rnd, title, site):
    # each card > 1000 chars so find_content picks ONE article, and the
    # repeated-item pass (2x rule, extract.rs:252-266) must fire
    cards = [" ".join(_sentence(rnd) for _ in range(16)) for _ in range(6)]
    card_html = "".join(
        f'<article class="news-card"><p>{c}</p></article>' for c in cards
    )
    body = _NAV + f"<main>{card_html}</main>" + _footer(site)
    return _page(title, site, body), "\n\n".join(cards), {
        "stage": "repeated_items", "language": "en", "page_type": "listing"}


def _fam_category_page(rnd, title, site):
    desc = " ".join(_sentence(rnd) for _ in range(6))  # > 100 chars, > 50 words
    grid = "".join(
        f'<div class="grid-item"><a href="/p/{k}">{rnd.choice(_WORDS)}</a></div>'
        for k in range(12)
    )
    body = (
        _NAV
        + f'<div class="category-description"><p>{desc}</p></div>'
        + f'<div class="product-grid">{grid}</div>'
        + _footer(site)
    )
    return _page(title, site, body), desc, {
        "stage": "main", "language": "en", "page_type": "collection"}


def _fam_service_page(rnd, title, site):
    # three sections with strictly decreasing content so candidate scores
    # are strictly ordered -> deterministic merge order (extract.rs:644-768)
    secs = [
        _paragraphs(rnd, n, sentences=3) for n in (5, 4, 3)
    ]
    sec_html = "".join(
        f'<div class="section-block">{_ps(paras)}</div>' for paras in secs
    )
    body = _NAV + sec_html + _footer(site)
    # merge candidates carry clean_text(text_content): paragraphs collapse
    # to one whitespace-normalized block per section
    golden = "\n\n".join(" ".join(paras) for paras in secs)
    return _page(title, site, body), golden, {
        "stage": "merge", "language": "en", "page_type": "service"}


def _fam_split_body(rnd, title, site):
    # chunk1 > 1000 chars so rule 1 selects it alone; the merge then stitches
    # chunk2 back (1.2x-4x window, extract.rs:1690-1710)
    chunk1 = _paragraphs(rnd, 6)
    chunk2 = _paragraphs(rnd, 3)
    body = (
        _NAV
        + "<article>"
        + f'<div class="article__body">{_ps(chunk1)}</div>'
        + '<aside class="ad-slot">Advertisement block text here.</aside>'
        + f'<div class="article__body">{_ps(chunk2)}</div>'
        + "</article>"
        + _footer(site)
    )
    golden = "\n\n".join(chunk1 + chunk2)
    return _page(title, site, body), golden, {
        "stage": "split_body", "language": "en", "page_type": "article"}


def _fam_short_fallback(rnd, title, site):
    short = "Brief update posted today."
    prose = _paragraphs(rnd, 3, sentences=1)
    body = (
        _NAV
        + f"<article><p>{short}</p></article>"
        + "".join(f"<p>{p}</p>" for p in prose)
        + _footer(site)
    )
    golden = "\n\n".join([short] + prose)
    return _page(title, site, body), golden, {
        "stage": "baseline_rescue", "language": "en", "page_type": "article"}


def _fam_malformed(rnd, title, site):
    # unclosed <p>s, stray end tags, missing </body></html>, broken attr —
    # shapes where html.parser's implicit-close rules keep parser agreement
    # (reference robustness tests, extract.rs:3807-3847)
    paras = _paragraphs(rnd, 5)
    open_ps = "".join(f"<p>{p}" for p in paras)  # never closed
    body = (
        _NAV
        + f"<article><h1>{title}</h1>{open_ps}</b></span></article>"
        + '<div class="x" data-broken>trailing junk outside article</div>'
    )
    html = (
        f'<!doctype html><html lang="en"><head><meta charset="utf-8">'
        f"<title>{title} - {site}</title></head><body>{body}"
        # no </body></html>
    )
    return html, "\n\n".join(paras), {
        "stage": "main", "language": "en", "page_type": "article"}


def _fam_huge_page(rnd, title, site):
    # ~0.5 MB of unique paragraphs: exercises the size guards and the
    # size-aware task balancing without tripping max_extracted_len
    paras = [_paragraph(rnd, sentences=6) for _ in range(700)]
    body = _NAV + f"<article><h1>{title}</h1>{_ps(paras)}</article>" + _footer(site)
    return _page(title, site, body), "\n\n".join(paras), {
        "stage": "main", "language": "en", "page_type": "article"}


def _fam_boilerplate_only(rnd, title, site):
    body = (
        _NAV
        + '<div class="cookie-banner">We use cookies. Accept all?</div>'
        + _footer(site)
    )
    return _page(title, site, body), "", {
        "stage": "empty", "language": "en", "page_type": "article"}


_BUILDERS = {
    "split_body": _fam_split_body,
    "malformed": _fam_malformed,
    "huge_page": _fam_huge_page,
    "listing_page": _fam_listing_page,
    "category_page": _fam_category_page,
    "service_page": _fam_service_page,
    "article_plain": _fam_article_plain,
    "article_boilerplate": _fam_article_boilerplate,
    "main_only": _fam_main_only,
    "heuristic_div": _fam_heuristic_div,
    "entry_content": _fam_entry_content,
    "jsonld_body": _fam_jsonld_body,
    "tables": _fam_tables,
    "duplicates": _fam_duplicates,
    "encodings": _fam_encodings,
    "metadata_rich": _fam_metadata_rich,
    "forum_thread": _fam_forum_thread,
    "docs_page": _fam_docs_page,
    "product_page": _fam_product_page,
    "short_fallback": _fam_short_fallback,
    "boilerplate_only": _fam_boilerplate_only,
}


def generate_row(i: int, seed: int = 42) -> dict:
    """One deterministic page: input row + golden text + expected metadata."""
    rnd = random.Random(f"{seed}:{i}")
    family = rnd.choices(_FAMILY_NAMES, weights=_FAMILY_WEIGHTS, k=1)[0]
    host_rank = rnd.choices(range(_N_HOSTS), weights=_HOST_WEIGHTS, k=1)[0]
    host = f"www.site{host_rank:03d}.example"
    site = f"Site {host_rank:03d}"
    title = _title(rnd)
    slug = "-".join(rnd.choice(_WORDS) for _ in range(3))
    if family == "listing_page":
        # listing heuristics fire on path SUFFIX (page_type/mod.rs listing table)
        url = f"https://{host}/{slug}-{i:06d}/news"
    else:
        section = _SECTION.get(family, "blog")
        url = f"https://{host}/{section}/{slug}-{i:06d}"

    html, golden, meta = _BUILDERS[family](rnd, title, site)
    if isinstance(html, str):
        html = html.encode("utf-8")

    expected_title = meta.get("title", title)
    return {
        "url": url,
        "warc_ts": _EPOCH + timedelta(seconds=37 * i),
        "html": html,
        "text": golden,
        "lang": meta.get("language", "en"),
        # sidecar (expected_meta table)
        "family": family,
        "exp_title": expected_title,
        "exp_author": meta.get("author"),
        "exp_date": meta.get("date"),
        "exp_language": meta.get("language", "en"),
        "exp_sitename": meta.get("sitename", site),
        "exp_page_type": meta.get("page_type"),
        "exp_stage": meta.get("stage"),
    }


def generate_rows(n: int, seed: int = 42) -> list[dict]:
    return [generate_row(i, seed) for i in range(n)]


def _corpus_schema():
    """The generated table, the input_hint shape (BASELINE.json): the
    pages contract (plans/schema.py ``PAGES_SCHEMA``) with the page's
    ground-truth ``text`` before ``lang``, every field non-null."""
    from pyspark.sql import types as T

    from ..plans.schema import PAGES_SCHEMA

    fields = [T.StructField(f.name, f.dataType, False) for f in PAGES_SCHEMA]
    fields.insert(3, T.StructField("text", T.StringType(), False))
    return T.StructType(fields)


def generate_pages_df(spark, n_rows: int, seed: int = 42):
    """Spark DataFrame in exactly the input_hint shape (BASELINE.json)."""
    schema = _corpus_schema()
    rows = [
        tuple(r[c] for c in schema.names) for r in generate_rows(n_rows, seed)
    ]
    return spark.createDataFrame(rows, schema)


def generate_expected_meta_df(spark, n_rows: int, seed: int = 42):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("family", T.StringType(), False),
        T.StructField("exp_title", T.StringType(), True),
        T.StructField("exp_author", T.StringType(), True),
        T.StructField("exp_date", T.TimestampType(), True),
        T.StructField("exp_language", T.StringType(), True),
        T.StructField("exp_sitename", T.StringType(), True),
        T.StructField("exp_page_type", T.StringType(), True),
        T.StructField("exp_stage", T.StringType(), True),
    ])
    cols = [f.name for f in schema.fields]
    rows = [tuple(r[c] for c in cols) for r in generate_rows(n_rows, seed)]
    return spark.createDataFrame(rows, schema)


def materialize_corpus(spark, path: str, n_rows: int, seed: int = 42,
                       partitions: int = 32) -> None:
    """Generate the corpus IN PARALLEL on executors (generation is a pure
    function of (seed, id), so it distributes trivially) and write parquet.
    This is how the bench corpus is built — driver-side generation would
    serialize on one core."""
    import pandas as pd

    schema = _corpus_schema()

    def gen(batches):
        for pdf in batches:
            rows = [generate_row(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame({c: [r[c] for r in rows] for c in schema.names})

    ids = spark.range(0, n_rows, 1, partitions)
    ids.mapInPandas(gen, schema=schema).write.mode("overwrite").parquet(path)


LARGE_GENERATOR_VERSION = 1


def generate_large_row(i: int, seed: int = 42) -> dict:
    """~300 KB CC-like article page (the reference's eval corpus averages
    316 KB/page, README.md:258): a deep article wrapped in heavy chrome —
    link-farm sidebar, comment section, inline script payload — so the
    MB/s throughput bench pays the same parse/filter costs a crawl page
    does, not just happy-path extraction."""
    rnd = random.Random(f"large:{seed}:{i}")
    host_rank = rnd.choices(range(_N_HOSTS), weights=_HOST_WEIGHTS, k=1)[0]
    host = f"www.site{host_rank:03d}.example"
    site = f"Site {host_rank:03d}"
    title = _title(rnd)
    slug = "-".join(rnd.choice(_WORDS) for _ in range(3))
    paras = [_paragraph(rnd, sentences=6) for _ in range(690)]
    sidebar = (
        '<aside class="sidebar"><div class="widget widget-links">'
        + " ".join(
            f'<a href="/tag/{w}">{w.capitalize()} corner</a>'
            for w in rnd.sample(_WORDS, 24)
        )
        + '</div><div class="widget promo">Subscribe to our newsletter '
        "for weekly updates and exclusive offers.</div></aside>"
    )
    comments = (
        '<div id="comments" class="comments-area">'
        + "".join(
            f'<div class="comment"><p>{_paragraph(rnd, 2)}</p></div>'
            for _ in range(12)
        )
        + "</div>"
    )
    script = (
        "<script>var dataLayer=["
        + ",".join(f'{{"k{j}":"{rnd.choice(_WORDS)}"}}' for j in range(300))
        + "];</script>"
    )
    body = (
        _NAV + sidebar
        + f"<article><h1>{title}</h1>{_ps(paras)}</article>"
        + comments + script + _footer(site)
    )
    html = _page(title, site, body)
    return {
        "url": f"https://{host}/blog/{slug}-{i:06d}",
        "warc_ts": _EPOCH + timedelta(seconds=37 * i),
        "html": html.encode("utf-8"),
        "text": "\n\n".join(paras),
        "lang": "en",
    }


def materialize_large_corpus(spark, path: str, n_rows: int, seed: int = 42,
                             partitions: int = 128) -> None:
    """Parallel-generate the ~300 KB-page corpus (same mechanism as
    materialize_corpus; generation is a pure function of (seed, id))."""
    import pandas as pd

    schema = _corpus_schema()

    def gen(batches):
        for pdf in batches:
            rows = [generate_large_row(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame({c: [r[c] for r in rows] for c in schema.names})

    ids = spark.range(0, n_rows, 1, partitions)
    ids.mapInPandas(gen, schema=schema).write.mode("overwrite").parquet(path)

