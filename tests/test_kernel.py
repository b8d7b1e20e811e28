"""Kernel unit tests mirroring the reference's containment assertions
(tests/extraction_test.rs, tests/boilerplate_test.rs style): synthetic HTML
with MARKER strings; assert markers present/absent in content_text.
"""

from rs_trafilatura_spark.kernel import extract, extract_bytes
from rs_trafilatura_spark.options import Options

# padding defeats min-length fallbacks (reference tests/boilerplate_test.rs:4)
PADDING = " ".join(
    f"Sentence number {i} provides sufficient prose content for extraction." for i in range(12)
)


def wrap(body: str, head: str = "") -> str:
    return f"<!doctype html><html lang='en'><head><title>T</title>{head}</head><body>{body}</body></html>"


def test_semantic_selection_excludes_nav_footer():
    html = wrap(
        "<nav class='main-nav'><a href='/'>NAV_LINK_ONE</a></nav>"
        f"<article><p>ARTICLE_ONLY_TEXT {PADDING}</p></article>"
        "<footer class='site-footer'>FOOTER_COPYRIGHT</footer>"
    )
    r = extract(html)
    assert "ARTICLE_ONLY_TEXT" in r["content_text"]
    assert "NAV_LINK_ONE" not in r["content_text"]
    assert "FOOTER_COPYRIGHT" not in r["content_text"]


def test_article_footer_preserved():
    # footer INSIDE article/main is content (tests/boilerplate_test.rs:31-56)
    html = wrap(
        f"<article><p>BODY_TEXT {PADDING}</p>"
        "<footer>ARTICLE_FOOTER_NOTE</footer></article>"
    )
    r = extract(html)
    assert "ARTICLE_FOOTER_NOTE" in r["content_text"]


def test_main_role_selection():
    html = wrap(
        "<div class='sidebar'>SIDEBAR_JUNK</div>"
        f"<div role='main'><p>MAIN_ROLE_TEXT {PADDING}</p></div>"
    )
    r = extract(html)
    assert "MAIN_ROLE_TEXT" in r["content_text"]
    assert "SIDEBAR_JUNK" not in r["content_text"]


def test_entry_content_rule():
    html = wrap(
        "<div class='widget'>WIDGET_JUNK</div>"
        f"<div class='entry-content'><p>ENTRY_TEXT {PADDING} {PADDING}</p></div>"
    )
    r = extract(html)
    assert "ENTRY_TEXT" in r["content_text"]
    assert "WIDGET_JUNK" not in r["content_text"]


def test_in_content_boilerplate_excluded():
    html = wrap(
        "<article>"
        f"<p>REAL_CONTENT {PADDING}</p>"
        "<div class='share-buttons'>Facebook Twitter SHARE_JUNK</div>"
        "<div class='related-posts'>RELATED_JUNK</div>"
        f"<p>MORE_CONTENT {PADDING}</p>"
        "</article>"
    )
    r = extract(html)
    assert "REAL_CONTENT" in r["content_text"]
    assert "MORE_CONTENT" in r["content_text"]
    assert "SHARE_JUNK" not in r["content_text"]
    assert "RELATED_JUNK" not in r["content_text"]


def test_h1_matching_title_dropped():
    html = wrap(
        f"<article><h1>My Great Story</h1><p>STORY_BODY {PADDING}</p></article>",
        head="<meta property='og:title' content='My Great Story'>",
    )
    r = extract(html)
    assert "STORY_BODY" in r["content_text"]
    assert "My Great Story" not in r["content_text"]


def test_section_heading_kept():
    html = wrap(
        f"<article><h2>SECTION_HEADING</h2><p>BODY {PADDING}</p></article>"
    )
    r = extract(html)
    assert "SECTION_HEADING" in r["content_text"]


def test_link_dense_div_dropped():
    links = "".join(f"<a href='/{i}'>L{i}</a> " for i in range(12))
    html = wrap(
        f"<article><p>PROSE_TEXT {PADDING}</p><div>{links}</div></article>"
    )
    r = extract(html)
    assert "PROSE_TEXT" in r["content_text"]
    assert "L3" not in r["content_text"]


def test_table_linearization():
    html = wrap(
        "<article>"
        f"<p>INTRO {PADDING}</p>"
        "<table><tr><th>Name</th><th>Value</th></tr>"
        "<tr><td>alpha</td><td>1</td></tr>"
        "<tr><td>beta</td><td>2</td></tr></table>"
        "</article>"
    )
    r = extract(html)
    assert "Name | Value" in r["content_text"]
    assert "alpha | 1" in r["content_text"]


def test_table_colspan_rowspan():
    html = wrap(
        "<article>"
        f"<p>INTRO {PADDING}</p>"
        "<table>"
        "<tr><th colspan='2'>Wide</th><th>C</th></tr>"
        "<tr><td rowspan='2'>R</td><td>x</td><td>y</td></tr>"
        "<tr><td>z</td><td>w</td></tr>"
        "</table></article>"
    )
    r = extract(html)
    assert "Wide | Wide | C" in r["content_text"]
    assert "R | x | y" in r["content_text"]
    assert "R | z | w" in r["content_text"]


def test_tables_toggle_off():
    html = wrap(
        "<article>"
        f"<p>INTRO {PADDING}</p>"
        "<table><tr><td>CELL_A</td><td>CELL_B</td></tr><tr><td>CELL_C</td><td>CELL_D</td></tr></table>"
        "</article>"
    )
    r = extract(html, Options(include_tables=False))
    assert "INTRO" in r["content_text"]
    assert "CELL_A" not in r["content_text"]


def test_layout_table_treated_as_container():
    html = wrap(
        "<table role='presentation'><tr><td>"
        f"<article><p>LAYOUT_INNER {PADDING}</p></article>"
        "</td></tr></table>"
    )
    r = extract(html)
    assert "LAYOUT_INNER" in r["content_text"]
    assert "|" not in r["content_text"]


def test_dedup_drops_fourth_occurrence():
    para = f"<p>DUPLICATE_BLOCK {PADDING}</p>"
    html = wrap(f"<article>{para}{para}{para}{para}</article>")
    r = extract(html, Options(deduplicate=True))
    assert r["content_text"].count("DUPLICATE_BLOCK") == 3
    r2 = extract(html, Options(deduplicate=False))
    assert r2["content_text"].count("DUPLICATE_BLOCK") == 4


def test_jsonld_body_preference_for_thin_dom():
    body_text = "JSONLD_BODY " + "structured content sentence. " * 40
    html = wrap(
        "<p>thin</p>",
        head=(
            "<script type='application/ld+json'>"
            '{"@type": "NewsArticle", "articleBody": "%s"}' % body_text.strip()
            + "</script>"
        ),
    )
    r = extract(html)
    assert "JSONLD_BODY" in r["content_text"]
    assert r["stage"] == "jsonld_body"


def test_baseline_rescue_paragraph_scrape():
    # no semantic containers, short divs only -> paragraph scrape via <p>
    html = wrap(
        "<div><p>RESCUE_ME this paragraph lives outside any content container "
        "and should be found by the baseline paragraph scrape which collects "
        "prose from bare paragraph tags in document order.</p></div>"
    )
    r = extract(html)
    assert "RESCUE_ME" in r["content_text"]


def test_empty_input_returns_result():
    r = extract("")
    assert r["content_text"] == ""
    assert r["stage"] == "empty"
    assert r["warnings"]


def test_boilerplate_only_page_is_empty_with_warning():
    html = wrap(
        "<nav class='main-nav'><a href='/'>Home</a></nav>"
        "<footer class='site-footer'>(c)</footer>"
    )
    r = extract(html)
    assert "Home" not in r["content_text"]


def test_encoding_latin1_bytes():
    raw = (
        "<html><head><meta charset='iso-8859-1'><title>T</title></head>"
        f"<body><article><p>caf\xe9 r\xe9sum\xe9 CHARSET_OK {PADDING}</p></article></body></html>"
    ).encode("latin-1")
    r = extract_bytes(raw)
    assert "café résumé CHARSET_OK" in r["content_text"]


def test_windows1252_smart_quotes():
    raw = (
        "<html><head><meta http-equiv='Content-Type' content='text/html; charset=windows-1252'></head>"
        f"<body><article><p>\x93quoted\x94 text QUOTE_OK {PADDING}</p></article></body></html>"
    ).encode("latin-1")
    r = extract_bytes(raw)
    assert "“quoted” text QUOTE_OK" in r["content_text"]


def test_metadata_cascade():
    html = wrap(
        f"<article><p>BODY {PADDING}</p></article>",
        head=(
            "<meta property='og:title' content='OG Title'>"
            "<meta property='og:site_name' content='The Site'>"
            "<meta name='author' content='Alice Writer'>"
            "<meta property='article:published_time' content='2023-11-07T08:30:00Z'>"
            "<meta name='description' content='A fine description.'>"
            "<link rel='canonical' href='https://example.com/a/b'>"
        ),
    )
    r = extract(html)
    assert r["title"] == "OG Title"
    assert r["sitename"] == "The Site"
    assert r["author"] == "Alice Writer"
    assert r["date"] is not None and r["date"].year == 2023
    assert r["description"] == "A fine description."
    assert r["url"] == "https://example.com/a/b"
    assert r["hostname"] == "example.com"
    assert r["language"] == "en"


def test_title_site_suffix_stripped():
    html = wrap(f"<article><p>B {PADDING}</p></article>").replace(
        "<title>T</title>", "<title>Real Article Title - My Site</title>"
    )
    r = extract(html)
    assert r["title"] == "Real Article Title"
    assert r["sitename"] == "My Site"


def test_page_type_url_heuristics():
    """Stage-1 URL tables (page_type/mod.rs:600-655).  End-to-end page_type
    can differ when the ML overrules a URL/content mismatch (extract.rs:
    85-90 'stages disagree — trust the ML'); the 3-stage pipeline is
    covered in test_page_type_ml.py."""
    from rs_trafilatura_spark.kernel.page_type import classify_url

    assert classify_url("https://example.com/products/widget-1") == "product"
    assert classify_url("https://example.com/docs/intro") == "documentation"
    assert classify_url("https://community.example.com/t/topic/5") == "forum"
    assert classify_url("https://example.com/blog/my-post") == "article"

    # content + URL consistent -> end-to-end page_type stays the heuristic
    html = wrap(f"<article><p>B {PADDING}</p></article>")
    r = extract(html, Options(url="https://example.com/blog/my-post"))
    assert r["page_type"] == "article"


def test_spans_point_into_source():
    html = wrap(f"<article><p>SPAN_MARKER {PADDING}</p></article>")
    r = extract(html)
    assert r["spans"], "expected spans"
    start = r["spans"][0][0]
    # span start should sit at/before the marker's position in the source
    assert 0 <= start <= html.index("SPAN_MARKER")


def test_huge_page_completes():
    para = f"<p>BULK {PADDING}</p>"
    html = wrap("<article>" + para * 2000 + "</article>")  # ~1.6 MB
    r = extract(html)
    assert "BULK" in r["content_text"]


def test_share_button_paragraph_filtered():
    html = wrap(
        f"<article><p>KEEP_THIS {PADDING}</p><p>Facebook</p><p>Twitter</p></article>"
    )
    r = extract(html)
    assert "KEEP_THIS" in r["content_text"]
    assert "Facebook" not in r["content_text"]
    assert "Twitter" not in r["content_text"]


def test_byline_div_filtered():
    html = wrap(
        f"<article><div>By John Smith</div><p>CONTENT {PADDING}</p></article>"
    )
    r = extract(html)
    assert "CONTENT" in r["content_text"]
    assert "By John Smith" not in r["content_text"]


def test_spans_on_fallback_stages():
    """North rule: every document with text carries spans.  Non-main stages
    emit OUTPUT spans (offsets into content_text, kind 'out:<stage>')."""
    import json

    body = ("A perfectly reasonable article body with plenty of words in it "
            "to satisfy all of the usability ratio checks downstream. " * 3)
    # JSON-LD articleBody >= 500 chars forces the jsonld_body stage when the
    # DOM result is tiny
    jsonld = json.dumps({
        "@context": "https://schema.org", "@type": "Article",
        "articleBody": body * 3,
    })
    html = (f'<html><head><script type="application/ld+json">{jsonld}'
            "</script></head><body><div>tiny</div></body></html>")
    r = extract(html)
    assert r["content_text"]
    assert r["spans"], f"no spans at stage {r['stage']}"
    for s, e, kind in r["spans"]:
        if kind.startswith("out:"):
            assert kind == f"out:{r['stage']}"
            # offsets index into content_text
            assert 0 <= s < e <= len(r["content_text"])
            assert r["content_text"][s:e].strip()


def test_output_block_spans_cover_blocks():
    from rs_trafilatura_spark.kernel.extract import _output_block_spans

    text = "first block\n\nsecond block here\n\n\n\nthird"
    spans = _output_block_spans(text, "merge")
    assert [(text[s:e], k) for s, e, k in spans] == [
        ("first block", "out:merge"),
        ("second block here", "out:merge"),
        ("third", "out:merge"),
    ]


def test_large_cc_page_roundtrip():
    """The ~300 KB bench family must extract byte-identically too (chrome
    filtered, 690-paragraph article kept)."""
    from rs_trafilatura_spark.datagen.corpus import generate_large_row
    from rs_trafilatura_spark.kernel import extract_bytes

    row = generate_large_row(3)
    assert 250_000 < len(row["html"]) < 360_000
    r = extract_bytes(row["html"])
    assert r["stage"] == "main"
    assert r["content_text"] == row["text"]


def test_top_level_api_reexports():
    """lib.rs:82-215 public API shape at the package root (lazy)."""
    import rs_trafilatura_spark as rt

    r = rt.extract_with_options(
        "<html><body><article><p>Top level API parity paragraph with "
        "plenty of words for extraction.</p></article></body></html>",
        rt.Options(output_markdown=True),
    )
    assert r["content_markdown"]
    assert rt.extract_bytes(b"<p>x</p>")["stage"]
    assert rt.extract_bytes_with_options(b"<p>x</p>", rt.Options())["stage"]


def test_every_option_is_read():
    """Each field of the two config dataclasses, Options and
    ExtractionProfile, is read (``.field``) somewhere in the package
    outside options.py: no setting that changes nothing."""
    import dataclasses
    import pathlib
    import re

    import rs_trafilatura_spark
    from rs_trafilatura_spark.kernel.page_type import ExtractionProfile

    pkg = pathlib.Path(rs_trafilatura_spark.__file__).parent
    src = "\n".join(p.read_text() for p in pkg.rglob("*.py")
                    if p != pkg / "options.py")
    unread = [f"{cls.__name__}.{f.name}"
              for cls in (Options, ExtractionProfile)
              for f in dataclasses.fields(cls)
              if not re.search(rf"\.{f.name}\b", src)]
    assert unread == []


# Defaulted parameters that no call in the repo passes but that stay
# parameters; each with why.
UNPASSED_ALLOWED = {
    "session.get_spark(shuffle_partitions)":
        "deployment: shuffle width is sized to the cluster",
    "session.get_spark(ui)": "deployment: the Spark UI is on in operation",
    "sources.warc.extract_from_warc(target_partitions)":
        "scale: scan width is sized to the cluster",
    "sources.tables.write_output(mode)":
        "deployment: append / overwrite is the caller's table policy",
    "datagen.corpus.materialize_large_corpus(partitions)":
        "scale: generation width is sized to the cluster",
    "operators.packing.write_shards(n_tasks)":
        "scale: write width is sized to the cluster",
    "operators.windows.capped_per_key(n_salts)":
        "scale: salting follows the skew of the largest key",
    "operators.bloom.seen_filter(num_bits)":
        "scale: filter size follows the corpus size",
    "operators.bloom.seen_filter(k)":
        "scale: hash count goes with num_bits",
    "operators.bloom.update_bloom(tree_fanin)":
        "scale: aggregation depth follows the partition count",
    "sources.warc.extract_from_warc(options)":
        "the extraction config object every extraction entry point takes",
    "operators.delta.extract_incremental(options)":
        "the extraction config object every extraction entry point takes",
    "streaming.pipeline.run_warc_stream_to_memory(options)":
        "the extraction config object every extraction entry point takes",
}


def test_every_parameter_is_passed(settable_values):
    """Each defaulted parameter of the package is passed by some call in
    the repo (package, tests, scripts, benchmarks), as
    scripts/settable_values.py matches calls to definitions: a default
    that no call overrides is a constant.  UNPASSED_ALLOWED holds the
    deployment and scale settings and the extraction config object; each
    of its entries names a real defaulted parameter."""
    import pathlib

    root = pathlib.Path(__file__).parents[1]
    defs, names, _ = settable_values.scan(root)
    unpassed = settable_values.unpassed(defs, names)
    assert sorted(set(unpassed) - set(UNPASSED_ALLOWED)) == []
    declared = {f"{d.module}.{d.call_name}({p})"
                for d in defs for p in d.defaulted}
    assert sorted(set(UNPASSED_ALLOWED) - declared) == []


def test_every_top_level_name_has_a_caller():
    """Each top-level function, class and constant of the package is
    loaded, imported or attribute-accessed by some .py file of the repo.
    Its own definition and the packages' ``__init__`` re-exports do not
    count."""
    import ast
    import os
    import pathlib

    import rs_trafilatura_spark

    pkg = pathlib.Path(rs_trafilatura_spark.__file__).parent
    root = pkg.parent
    # SIGNATURE_VERSION is a deployment contract (see its comment)
    allowed = {"__all__", "__version__", "__getattr__", "SIGNATURE_VERSION"}

    def top_level(tree):
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                yield node.name, node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            yield n.id, node

    defined = []  # (module path, name, defining node)
    used: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames
                       if not d.startswith(".") and d != "__pycache__"]
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            path = pathlib.Path(dirpath, fn)
            tree = ast.parse(path.read_text(), str(path))
            in_pkg = pkg in path.parents
            own = {}
            if in_pkg:
                for name, node in top_level(tree):
                    if name not in allowed:
                        defined.append((path, name))
                        own[id(node)] = name
            reexport = in_pkg and fn == "__init__.py"
            stack = [(tree, None)]
            while stack:
                node, inside = stack.pop()
                inside = own.get(id(node), inside)
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    if node.id != inside:
                        used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
                elif isinstance(node, ast.ImportFrom) and not reexport:
                    used.update(a.name for a in node.names)
                stack.extend((c, inside) for c in ast.iter_child_nodes(node))
    unused = sorted(f"{p.relative_to(root)}:{name}"
                    for p, name in defined if name not in used)
    assert unused == []


def test_target_language_region_tag_is_one_language():
    """A region-qualified target (``en_US``) and a page in ``en`` are the
    same language everywhere: the content matches and no mismatch
    warning is raised."""
    html = (
        '<html lang="en"><body><article>'
        "<p>This is English content that should be extracted. It has "
        "multiple sentences to ensure good scoring.</p>"
        "<p>More English content here to make it substantial.</p>"
        "</article></body></html>"
    )
    for target in ("en_US", "en-GB", "EN"):
        r = extract(html, Options(target_language=target))
        assert r["stage"] == "main", target
        assert "English content" in r["content_text"]
        assert not [w for w in r["warnings"] if "does not match" in w], target


def test_generated_pages_digest(extract_digest, tmp_path):
    """Byte identity of the kernel: the generated pages of
    scripts/extract_digest.py, under its four option sets, hash to the
    script's pinned generated-pages digest.  A change to any extraction
    result changes it."""
    generated, cached = extract_digest.pages(str(tmp_path))
    assert cached == []
    _, digest, stages = extract_digest.digests(generated, len(generated))
    assert sum(stages.values()) == 4 * len(generated) == 9624
    assert digest == (
        "d0e1e222ae4ab454e8ffe9e11033a6b3953f5b2c558f71fd5d2c04427f9856fe")
