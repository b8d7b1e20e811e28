"""Comments, images, markdown, and per-type post passes."""

from rs_trafilatura_spark.kernel import extract
from rs_trafilatura_spark.options import Options

PADDING = " ".join(
    f"Sentence number {i} gives the article substantial prose to extract." for i in range(12)
)


def wrap(body: str, head: str = "") -> str:
    return f"<!doctype html><html lang='en'><head><title>T</title>{head}</head><body>{body}</body></html>"


def test_comments_extracted_when_enabled():
    html = wrap(
        f"<article><p>MAIN_TEXT {PADDING}</p></article>"
        "<div id='comments'>"
        "<div class='comment'><p>FIRST_COMMENT insightful remark here "
        "with several more carefully chosen words.</p></div>"
        "<div class='comment'><p>SECOND_COMMENT another reply follows "
        "adding further discussion for the thread.</p></div>"
        "</div>"
    )
    r = extract(html, Options(include_comments=True))
    assert "FIRST_COMMENT" in (r["comments_text"] or "")
    assert "SECOND_COMMENT" in r["comments_text"]
    assert "FIRST_COMMENT" not in r["content_text"]

    r2 = extract(html, Options(include_comments=False))
    assert r2["comments_text"] is None


def test_comments_below_min_size_dropped():
    html = wrap(
        f"<article><p>MAIN {PADDING}</p></article>"
        "<div id='comments'><p>ok</p></div>"
    )
    r = extract(html, Options(include_comments=True, min_output_comm_size=10))
    assert r["comments_text"] is None


def test_images_with_figure_caption_and_hero():
    html = wrap(
        f"<article><p>BODY {PADDING}</p>"
        "<figure><img src='/img/hero-shot.jpg' alt='A hero'>"
        "<figcaption>The caption text</figcaption></figure>"
        "<img src='/img/second.png' alt='Second'>"
        "</article>",
        head="<meta property='og:image' content='https://cdn.x/img/hero-shot.jpg'>",
    )
    r = extract(html, Options(include_images=True))
    assert len(r["images"]) == 2
    hero = [i for i in r["images"] if i["is_hero"]]
    assert len(hero) == 1 and hero[0]["src"] == "/img/hero-shot.jpg"
    assert hero[0]["caption"] == "The caption text"
    assert r["images"][1]["alt"] == "Second"


def test_images_data_src_lazy():
    html = wrap(
        f"<article><p>B {PADDING}</p><img data-src='/lazy/pic.webp' alt='lazy'></article>"
    )
    r = extract(html, Options(include_images=True))
    assert r["images"][0]["src"] == "/lazy/pic.webp"


def test_markdown_output():
    html = wrap(
        "<article><h2>Section Title</h2>"
        f"<p>Intro with <strong>bold</strong> and <em>italic</em>. {PADDING}</p>"
        "<ul><li>first item</li><li>second item</li></ul>"
        "<pre><code>x = 1</code></pre>"
        "<table><tr><th>A</th><th>B</th></tr><tr><td>1</td><td>2</td></tr></table>"
        "</article>"
    )
    r = extract(html, Options(output_markdown=True, include_links=True))
    md = r["content_markdown"]
    assert "## Section Title" in md
    assert "**bold**" in md and "*italic*" in md
    assert "- first item" in md
    assert "```\nx = 1\n```" in md
    assert "| A | B |" in md


def test_multi_candidate_merge_service():
    secs = []
    for k in range(3):
        paras = "".join(
            f"<p>Service section {k} paragraph {j} with plenty of descriptive "
            f"prose about offerings and outcomes for the client engagement.</p>"
            for j in range(4 - k)
        )
        secs.append(f'<div class="section-block">{paras}</div>')
    html = wrap("".join(secs))
    r = extract(html, Options(url="https://x.example/services/consulting"))
    assert r["page_type"] == "service"
    assert r["stage"] == "merge"
    assert "Service section 0" in r["content_text"]
    assert "Service section 2" in r["content_text"]


def test_merge_ranks_candidates_on_structure_and_links():
    """The merge's candidate score counts <p>, heading and substantive
    paragraphs and scales down link-heavy nodes, so a short structured
    section outranks a blob more than twice its length, and a longer
    link farm falls below a fifth of the top score."""
    from rs_trafilatura_spark.dom import Document
    from rs_trafilatura_spark.kernel.postprocess import (
        try_multi_candidate_merge,
    )

    blob = " ".join(f"Plain blob sentence {i} runs on without any "
                    "paragraph markup at all." for i in range(20))
    paras = "".join(
        f"<p>Structured paragraph {j} explains the offering in one long "
        "sentence of prose that keeps going past a hundred characters.</p>"
        for j in range(4))
    links = "".join(f"<a href='/l{i}'>link farm entry number {i} here</a> "
                    for i in range(30))
    html = wrap(f"<div>{blob}</div>"
                f"<div><h2>Overview</h2>{paras}<h3>Details</h3></div>"
                f"<div>{links} LINK_FARM_TAIL</div>")
    text, spans = try_multi_candidate_merge(Document(html), Options())
    blocks = text.split("\n\n")
    assert len(blocks) == 2
    assert blocks[0].startswith("Overview") and len(blocks[0]) < 500
    assert blocks[1].startswith("Plain blob") and len(blocks[1]) > 1000
    assert "LINK_FARM_TAIL" not in text
    assert [kind for _, _, kind in spans] == ["div", "div"]
    assert spans[0][0] > spans[1][0]  # the later node in the source ranks first


def test_collection_description_category():
    desc = ("This category collects long-form guides about growing vegetables "
            "in small spaces, with seasonal advice and detailed walkthroughs "
            "for each crop including watering schedules and common problems.")
    grid = "".join(f"<div class='grid-item'><a href='/p/{k}'>item</a></div>" for k in range(10))
    html = wrap(
        f"<div class='category-description'><p>{desc}</p></div>"
        f"<div class='product-grid'>{grid}</div>"
    )
    r = extract(html, Options(url="https://x.example/category/veg"))
    assert r["page_type"] == "collection"
    assert desc in r["content_text"]


def test_repeated_items_listing():
    cards = "".join(
        "<article class='news-card'><p>"
        + f"Story {k}: " + " ".join(
            f"sentence {j} of the summary with details and context." for j in range(30))
        + "</p></article>"
        for k in range(5)
    )
    html = wrap(f"<main>{cards}</main>")
    r = extract(html, Options(url="https://x.example/latest/news"))
    assert r["page_type"] == "listing"
    assert r["stage"] == "repeated_items"
    for k in range(5):
        assert f"Story {k}:" in r["content_text"]


def test_teaser_dropped_unless_recall():
    html = wrap(
        f"<article><p>KEEP {PADDING}</p>"
        "<div class='article-teaser'>TEASER_JUNK preview of another story</div>"
        "</article>"
    )
    r = extract(html)
    assert "TEASER_JUNK" not in r["content_text"]
    r2 = extract(html, Options(favor_recall=True))
    assert "TEASER_JUNK" in r2["content_text"]


def test_precision_drops_link_named_divs():
    html = wrap(
        f"<article><p>KEEP {PADDING}</p>"
        "<div class='link-box'>LINKBOX_JUNK</div></article>"
    )
    r = extract(html, Options(favor_precision=True))
    assert "LINKBOX_JUNK" not in r["content_text"]
    r2 = extract(html)
    assert "LINKBOX_JUNK" in r2["content_text"]


def test_hidden_elements_dropped():
    html = wrap(
        f"<article><p>VISIBLE {PADDING}</p>"
        "<div style='display:none'>HIDDEN_STYLE</div>"
        "<div aria-hidden='true'>HIDDEN_ARIA</div>"
        "<p hidden>HIDDEN_ATTR</p>"
        "</article>"
    )
    r = extract(html)
    assert "VISIBLE" in r["content_text"]
    for junk in ("HIDDEN_STYLE", "HIDDEN_ARIA", "HIDDEN_ATTR"):
        assert junk not in r["content_text"]


def test_split_body_merge():
    # chunk1 must clear MIN_CONTENT_TEXT_LEN (1000) so rule 1 selects it
    # alone rather than promoting to the whole <article>
    chunk = "".join(
        f"<p>Split chunk paragraph {j} carries the narrative forward with "
        f"substantial sentences that add up to real content length.</p>"
        for j in range(12)
    )
    chunk2 = "".join(
        f"<p>Continuation paragraph {j} resumes after the advertisement "
        f"interruption with more of the story text.</p>"
        for j in range(3)
    )
    html = wrap(
        "<article>"
        f"<div class='article__body'>{chunk}</div>"
        "<aside class='ad-slot'>ad</aside>"
        f"<div class='article__body'>{chunk2}</div>"
        "</article>"
    )
    r = extract(html)
    assert r["stage"] == "split_body"
    assert "Split chunk paragraph 0" in r["content_text"]
    assert "Continuation paragraph 2" in r["content_text"]


def test_ml_feature_vector_shape_and_signals():
    from rs_trafilatura_spark.dom import Document
    from rs_trafilatura_spark.kernel.ml_features import (
        N_FEATURES,
        extract_ml_features,
    )

    html = wrap(
        f"<article><h1>T</h1><p>{PADDING}</p><time>now</time></article>"
        "<div class='product-card'><span class='price'>$9</span></div>" * 3,
        head="<script type='application/ld+json'>{\"@type\":\"NewsArticle\"}</script>",
    )
    f = extract_ml_features(Document(html), "https://x.example/blog/a")
    assert len(f) == N_FEATURES
    assert f[9] == 1.0      # /blog/ article path
    assert f[18] == 1.0     # has <article>
    assert f[19] == 1.0     # has <time>
    assert f[23] == 1.0     # JSON-LD article type
    assert f[36] == 3.0     # product cards
    assert f[85] == 3.0 and f[88] == 1.0  # cards with price + ratio


def test_ml_feature_size_guard():
    from rs_trafilatura_spark.dom import Document
    from rs_trafilatura_spark.kernel.ml_features import extract_ml_features

    big = wrap("<article><p>" + "word " * 120_000 + "</p></article>")
    f = extract_ml_features(Document(big), "https://x.example/blog/a")
    # enhanced features skipped above 500 KB body text (ml.rs:178-180)
    assert f[58] > 500_000 and f[63] == 0.0 and f[75] == 0.0


def test_metadata_dom_fallback_values():
    """The date / author / license that extract_metadata finds through
    the DOM fallback selectors, for every attribute family they probe."""
    from datetime import datetime

    from rs_trafilatura_spark.dom import Document
    from rs_trafilatura_spark.kernel.metadata import extract_metadata

    cases = [
        "<html><body><span class='post-date'>January 5, 2021</span></body></html>",
        "<html><body><div class='x published-on'>2020-03-04</div></body></html>",
        "<html><body><time itemprop='datePublished' datetime='2019-07-08'>"
        "</time></body></html>",
        "<html><body><span itemprop='datePublished'>2018-01-02</span></body></html>",
        "<html><body><a rel='author'>Jane Roe</a></body></html>",
        "<html><body><span itemprop='author'>Sam Poe</span></body></html>",
        "<html><body><div class='author'>By Max Moe</div></body></html>",
        "<html><body><div class='byline extra'>Kim Doe</div></body></html>",
        # substring-but-not-token class names must NOT match .author/.byline
        "<html><body><div class='authoring'>Not An Author</div>"
        "<p class='coauthor'>Nope</p></body></html>",
        "<html><body><footer><a href="
        "'https://creativecommons.org/licenses/by-sa/4.0/'>cc</a></footer>"
        "</body></html>",
        "<html><body><div class='site footer'><a href="
        "'https://creativecommons.org/licenses/by/4.0/'>cc</a></div></body></html>",
        "<html><body><div id='footer'>creativecommons.org/licenses/by-nc/3.0/"
        " text</div></body></html>",
        "<html><body><div class='license-info'>"
        "creativecommons.org/licenses/by-nd/2.0/</div></body></html>",
        "<html><body><div class='copyright'>"
        "creativecommons.org/licenses/zero/1.0/</div></body></html>",
        "<html><body><div class='footerish'>"
        "creativecommons.org/licenses/by/4.0/</div></body></html>",
        "<html><body><a rel='license' href="
        "'https://creativecommons.org/licenses/by/4.0/'>l</a></body></html>",
        "<html><body><span class='date'>bad date</span>"
        "<time itemprop='datePublished'>2001-02-03</time>"
        "<div class='byline'>A B</div><a rel='author'>C D</a></body></html>",
    ]
    # (date, author, license); a CC link's href is not footer text, so
    # the two footer-anchor cases find no license
    want = [
        (datetime(2021, 1, 5), None, None),
        (datetime(2020, 3, 4), None, None),
        (datetime(2019, 7, 8), None, None),
        (datetime(2018, 1, 2), None, None),
        (None, "Jane Roe", None),
        (None, "Sam Poe", None),
        (None, "Max Moe", None),
        (None, "Kim Doe", None),
        (None, None, None),
        (None, None, None),
        (None, None, None),
        (None, None, "CC BY-NC"),
        (None, None, "CC BY-ND"),
        (None, None, "CC ZERO"),
        (None, None, None),
        (None, None, "CC BY"),
        (datetime(2001, 2, 3), "A B", None),
    ]
    assert len(cases) == len(want)
    for html, expected in zip(cases, want):
        meta = extract_metadata(Document(html))
        got = (meta.get("date"), meta.get("author"), meta.get("license"))
        assert got == expected, html
