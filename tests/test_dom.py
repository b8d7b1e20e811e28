"""DOM layer: parse, text/tail model, selectors, mutation."""

from rs_trafilatura_spark.dom import Document, select, select_first


def test_text_tail_model():
    doc = Document("<div>alpha<span>beta</span>gamma<b>delta</b>eps</div>")
    div = select_first(doc.root, "div")
    assert div.text == "alpha"
    span = div.children[0]
    assert span.tag == "span" and span.text == "beta" and span.tail == "gamma"
    b = div.children[1]
    assert b.text == "delta" and b.tail == "eps"
    assert div.text_content() == "alphabetagammadeltaeps"


def test_implicit_p_close():
    doc = Document("<body><p>one<p>two<div>three</div></body>")
    ps = select(doc.root, "p")
    assert [p.text for p in ps] == ["one", "two"]
    # the div must NOT be nested inside the second p
    assert select_first(doc.root, "div").parent.tag == "body"


def test_implicit_li_and_table_cells():
    doc = Document("<ul><li>a<li>b</ul><table><tr><td>1<td>2<tr><td>3</table>")
    assert [li.text for li in select(doc.root, "li")] == ["a", "b"]
    rows = select(doc.root, "tr")
    assert len(rows) == 2
    assert [td.text for td in select(rows[0], "td")] == ["1", "2"]


def test_stray_end_tags_ignored():
    doc = Document("<div><p>x</p></b></div><p>y</p>")
    assert [p.text for p in select(doc.root, "p")] == ["x", "y"]


def test_selectors():
    doc = Document(
        '<div id="main" class="content wide"><p class="a b">t</p>'
        '<span itemprop="articleBody">s</span><a href="http://x">l</a></div>'
    )
    assert select_first(doc.root, "#main").tag == "div"
    assert select_first(doc.root, ".content").get("id") == "main"
    assert select_first(doc.root, "p.a").text == "t"
    assert select_first(doc.root, "[itemprop='articleBody']").tag == "span"
    assert select_first(doc.root, "[class*='wid']").tag == "div"
    assert select_first(doc.root, "[href]").tag == "a"
    assert len(select(doc.root, "p, span")) == 2
    assert select_first(doc.root, "div p").text == "t"
    assert select_first(doc.root, "div > p").text == "t"
    assert select_first(doc.root, "span > p") is None


def test_drop_tree_preserves_tail():
    doc = Document("<div>a<span>X</span>b<i>Y</i>c</div>")
    div = select_first(doc.root, "div")
    select_first(doc.root, "span").drop_tree()
    assert div.text == "ab"
    select_first(doc.root, "i").drop_tree()
    assert div.text_content() == "abc"


def test_unwrap_keeps_children():
    doc = Document("<div>a<em>b<b>c</b>d</em>e</div>")
    select_first(doc.root, "em").unwrap()
    div = select_first(doc.root, "div")
    assert div.text_content() == "abcde"
    assert div.children[0].tag == "b"


def test_script_raw_text_and_jsonld():
    doc = Document(
        '<head><script type="application/ld+json">{"a":"<b>"}</script></head>'
    )
    s = select_first(doc.root, "script")
    assert s.text == '{"a":"<b>"}'


def test_entities_decoded():
    doc = Document("<p>a &amp; b &lt;c&gt; &#233;</p>")
    assert select_first(doc.root, "p").text == "a & b <c> é"


def test_body_fallback_for_fragment():
    doc = Document("<p>frag</p>")
    assert doc.body.tag == "#root"
    assert select_first(doc.root, "p").text == "frag"


def test_void_and_selfclose():
    doc = Document("<p>a<br>b<img src='x'/>c</p>")
    p = select_first(doc.root, "p")
    assert p.text_content() == "abc"
    assert [c.tag for c in p.children] == ["br", "img"]


def test_fast_scan_differential_fuzz():
    """Property: the fast whole-document scanner and the stdlib
    feed()+close() path build identical trees (tags, attrs, text, tails)
    on arbitrary tag-soup.  Source offsets are checked against the
    SOURCE, not against the stdlib path: the fast scanner's offsets are
    plain indices and provably point at the element's own '<tag', while
    the stdlib line/col bookkeeping can drift on malformed-recovery
    inputs (found by this fuzzer: '<p><!-- unterminated<p><p>' — stdlib
    reports the final <p> at 20, its true index is 23)."""
    from hypothesis import given, settings, strategies as st

    import rs_trafilatura_spark.dom.parser as P

    def tree_repr(el):
        out = [(el.tag, tuple(sorted(el.attrib.items())), el.text, el.tail)]
        for c in el.children:
            out.extend(tree_repr(c))
        return out

    def check_offsets(el, html):
        if el._srcpos is not None and el.tag != "#root":
            start = el._srcpos[0]
            assert html[start:start + 1 + len(el.tag)].lower() \
                == "<" + el.tag, (el.tag, start, html)
        for c in el.children:
            check_offsets(c, html)

    fragment = st.one_of(
        st.sampled_from([
            "<p>", "</p>", "<div class='a b'>", "</div>", "<br/>",
            "<img src=x>", "text ", "&amp;", "&#65;", "&bogus;", "& ",
            "<script>", "</script>", "<style>", "</style>", "<!--c-->",
            "<!-- unterminated", "<!doctype html>", "<?pi?>", "<!decl>",
            "< notag", "<", ">", "'", '"', "=", "/", "<p a=1 b='2' c=\"3\">",
            "<P CLASS=UP>", "</P>", "<td>", "<tr>", "<li>", "\n", "\t",
            "<a href='x>y'>", "<em a=>", "<b a", "<i a='unterminated",
        ]),
        st.text(alphabet="abc<>&;='\"/! \n", min_size=0, max_size=12),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(fragment, min_size=0, max_size=24))
    def check(frags):
        html = "".join(frags)
        P._USE_FAST_SCAN = True
        root = P.parse_html(html)
        fast = tree_repr(root)
        check_offsets(root, html)
        P._USE_FAST_SCAN = False
        try:
            slow = tree_repr(P.parse_html(html))
        finally:
            P._USE_FAST_SCAN = True
        assert fast == slow, html

    check()


def test_endtag_fast_path_differential():
    """The fused parse_endtag fast path (plain </tag>, not in cdata mode)
    must be tree-identical to the stdlib method it shortcuts.  Forcing
    the fallback by blanking the fast-path regex and comparing trees
    pins the equivalence on adversarial end-tag soup: spaced names,
    attributes in end tags, bogus comments, cdata close tags, stray and
    case-varied ends, unterminated ends at EOF."""
    import re

    import rs_trafilatura_spark.dom.parser as P

    def tree_repr(el):
        out = [(el.tag, tuple(sorted(el.attrib.items())), el.text, el.tail,
                el._srcpos)]
        for c in el.children:
            out.extend(tree_repr(c))
        return out

    cases = [
        "<div><p>a</p></div>",
        "<div><p>a</P ></DIV>",
        "<p>a</ p><b>x</b>",               # space after </ -> bogus comment
        "<p>a</p attr='x'>",               # attrs in end tag
        "<p>a</>",                          # </> dropped
        "<p>a</p",                          # unterminated at EOF
        "<script>var a = '</scr' + 'ipt>';</script><p>t</p>",
        "<script>x</script foo>",          # cdata close with junk
        "<style>a{}</style><p>s</p>",
        "<ul><li>a<li>b</li></ul>",
        "<p>a</q></p>",                     # stray end
        "<p>a</p-></p>",                    # invalid name char
        "<p>a</é>",                    # non-ascii end name
        "<td>x</td></tr></table>",
        "<p>one</p>two<p>three</p >tail",
    ]
    never = re.compile(r"(?!x)x")
    for html in cases:
        fast = tree_repr(P.parse_html(html))
        orig = P._ENDTAG_SIMPLE
        P._ENDTAG_SIMPLE = never
        try:
            slow = tree_repr(P.parse_html(html))
        finally:
            P._ENDTAG_SIMPLE = orig
        assert fast == slow, html


def test_classed_desc_list_snapshot_and_invalidation():
    """classed_desc_list: document-order class/id-carrying descendants,
    cached per structural generation and rebuilt after a mutation."""
    from rs_trafilatura_spark.dom.parser import parse_html

    root = parse_html(
        "<div><p class='a'>x</p><span>y</span><p id='b'>z</p>"
        "<section class='c'><em>w</em></section></div>"
    )
    body = root
    lst = body.classed_desc_list()
    assert [
        (e.tag, e.get("class") or e.get("id")) for e in lst
    ] == [("p", "a"), ("p", "b"), ("section", "c")]
    assert body.classed_desc_list() is lst  # cached, same snapshot
    lst[0].drop_tree()  # structural mutation bumps the generation
    assert [(e.tag,) for e in body.classed_desc_list()] == [
        ("p",), ("section",)
    ]


def test_text_content_child_cache_reuse_is_byte_identical():
    """A parent's text_content must be identical whether or not child
    caches were primed first (the cache-substitution walk)."""
    from rs_trafilatura_spark.dom.parser import parse_html

    html = ("<div>pre<p>one <b>bold</b> tail1</p>mid"
            "<section><p>two</p>inner</section>post</div>")
    cold = parse_html(html)
    want = cold.text_content()

    warm = parse_html(html)
    # prime every descendant deepest-first, then the parent reuses them
    for el in reversed(warm.desc_list()):
        el.text_content()
    assert warm.text_content() == want


def test_select_order_parity_and_invalidation():
    """On a tree above 512 descendants, selects on a scanned (snapshot
    cached) tree yield the same elements in the same document order as
    on a fresh tree, across single tags, comma unions, tag-anchored
    compounds and mixed unions; a drop_tree invalidates the snapshot."""
    from rs_trafilatura_spark.dom.parser import parse_html
    from rs_trafilatura_spark.dom.select import select

    body = "".join(
        f"<section class='s{i}'><p class='x'>p{i}</p><span>t{i}</span>"
        f"<td>c{i}</td><th>h{i}</th></section>"
        for i in range(200)  # > 512 descendants
    )
    root = parse_html(f"<div>{body}</div>")
    assert len(root.desc_list()) > 512

    plain_p = select(root, "p")
    for sel in ("p", "td, th", "p.x", "section[class*='s1'], span",
                "p, section"):
        warm = select(root, sel)
        fresh = select(parse_html(f"<div>{body}</div>"), sel)
        assert warm != []  # non-trivial
        assert [(e.tag, e.get("class")) for e in warm] == \
            [(e.tag, e.get("class")) for e in fresh], sel
        # document order: strictly increasing positions in desc_list
        pos = {id(e): i for i, e in enumerate(root.desc_list())}
        ords = [pos[id(e)] for e in warm]
        assert ords == sorted(ords), sel

    # mutation bumps the generation: the dropped node is gone
    dropped = plain_p[0]
    dropped.drop_tree()
    after = select(root, "p")
    assert len(after) == 199 and dropped not in after

    small = parse_html("<div><p>a</p><p>b</p></div>")
    small.desc_list()
    assert [e.text for e in select(small, "p")] == ["a", "b"]


def test_attributed_desc_list_and_attr_selector_gating():
    """attributed_desc_list: document-order attribute-carrying
    descendants, generation-cached; attr-requiring selectors must match
    identically when scanned through it (including forms that do NOT
    need class/id), and degenerate empty-value substring selectors must
    NOT be gated (they can match attribute-less elements via the
    get(n, '') default)."""
    from rs_trafilatura_spark.dom.parser import parse_html
    from rs_trafilatura_spark.dom.select import _Chain, select

    root = parse_html(
        "<div><a rel='author'>A</a><p>plain</p>"
        "<span itemprop='datePublished' datetime='2020-01-02'>d</span>"
        "<time datetime='2021-03-04'>t</time><b>bare</b></div>"
    )
    attred = root.attributed_desc_list()
    assert [e.tag for e in attred] == ["a", "span", "time"]
    assert attred is root.attributed_desc_list()  # cached
    # selector results equal a brute-force scan for attr-requiring forms
    for sel in ("[rel='author']", "[itemprop='datePublished']",
                "[datetime]", "[rel='author'], [datetime]"):
        got = [e.tag for e in select(root, sel)]
        chains = [_Chain(a.strip()) for a in sel.split(",")]
        ref = [e.tag for e in root.desc_list()
               if any(c.matches(e) for c in chains)]
        assert got == ref, sel
    # degenerate: [class*=''] matches EVERYTHING (empty substring of the
    # '' default) — must not be restricted to attributed elements
    assert len(select(root, "[foo*='']")) == len(root.desc_list())
    assert len(select(root, "[class*='']")) == len(root.desc_list())
    # invalidation: structural mutation rebuilds the snapshot
    from rs_trafilatura_spark.dom.element import Element
    root.children[0].append(Element("i", {"x": "1"}))
    assert [e.tag for e in root.attributed_desc_list()] == \
        ["a", "span", "time", "i"]


def test_kernel_selectors_match_reference_scan(monkeypatch, extract_digest):
    """Every selector the kernel hands iter_select, on the generated
    fixture pages and large pages under the digest's option sets, selects
    exactly the elements (in document order) that a brute-force
    ``matches`` walk finds, from both the document root and the body, on
    trees above and below 512 descendants."""
    import sys
    from dataclasses import replace

    from rs_trafilatura_spark.datagen.corpus import (
        generate_large_row, generate_row,
    )
    from rs_trafilatura_spark.functions.encoding import transcode_to_utf8
    from rs_trafilatura_spark.kernel.extract import extract_bytes

    S = sys.modules["rs_trafilatura_spark.dom.select"]
    rows = [generate_row(i, 1) for i in range(300)]
    rows += [generate_large_row(i, 1) for i in range(4)]
    pages = [(r["url"], bytes(r["html"])) for r in rows]

    seen: dict = {}  # insertion-ordered set of selector strings
    orig = S.iter_select

    def recording(root, selector):
        seen[selector] = None
        return orig(root, selector)

    monkeypatch.setattr(S, "iter_select", recording)
    for opts in extract_digest.option_sets():
        for url, html in pages:
            extract_bytes(html, replace(opts, url=url))
    monkeypatch.undo()
    assert len(seen) > 20

    sizes = []
    for _, html in pages:
        doc = Document(transcode_to_utf8(html))
        for root in (doc.root, doc.body):
            sizes.append(len(list(root.iter())) - 1)
            for sel in seen:
                want = [el for el in root.iter()
                        if el is not root and S.matches(el, sel)]
                assert S.select(root, sel) == want, sel
    assert min(sizes) < 512 < max(sizes)


def test_select_after_rename():
    """A renamed element is selected under its new tag and not its old
    one, even on a large tree that earlier selects have scanned."""
    from rs_trafilatura_spark.dom.parser import parse_html

    body = parse_html(
        "<body>" + "<p>x</p>" * 600 + "<figure>f</figure></body>"
    )
    assert len(select(body, "p")) == 600
    assert len(select(body, "p")) == 600
    fig = select_first(body, "figure")
    fig.rename("div")
    assert fig in select(body, "div")
    assert select(body, "figure") == []
