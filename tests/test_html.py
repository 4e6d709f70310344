"""HTML main-content extraction (operators/html.py): tokenizer units,
boilerplate heuristics, hostile-input sweeps, the renderer↔fixture
byte mirror, and the interleaved-format Spark pipeline."""

from __future__ import annotations

import random
import re
import sys
import zlib
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from insurance_pdf_extractor_spark.operators.html import (
    decode_entities,
    detect_charset,
    extract_html,
    sniff_format,
)


def texts(lines):
    return [t for _pg, _off, t in lines]


# ---------------------------------------------------------------------------
# entities
# ---------------------------------------------------------------------------


def test_named_entities():
    assert decode_entities("a &amp; b &lt;c&gt; &quot;d&quot;") == 'a & b <c> "d"'
    assert decode_entities("&copy; &sect; &mdash; &nbsp;") == "\xa9 \xa7 — \xa0"


def test_numeric_entities():
    assert decode_entities("&#65;&#x42;&#x63;") == "ABc"
    assert decode_entities("&#0;") == "�"  # NUL → replacement
    assert decode_entities("&#xD800;") == "�"  # surrogate
    assert decode_entities("&#1114112;") == "�"  # > U+10FFFF


def test_entity_without_semicolon_is_literal():
    assert decode_entities("a &amp b") == "a &amp b"
    assert decode_entities("R&D") == "R&D"


def test_unknown_entity_is_literal():
    assert decode_entities("&notanentity;") == "&notanentity;"


def test_entities_match_stdlib_oracle():
    """Every named entity in the supported subset must decode exactly
    as Python's independent html.unescape does; numeric forms likewise
    (except the spec divergence: unescape maps C1 codepoints through
    windows-1252, we keep raw codepoints — excluded range)."""
    import html as _html

    from insurance_pdf_extractor_spark.operators.html import _NAMED_ENTITIES

    for name, ch in _NAMED_ENTITIES.items():
        assert _html.unescape(f"&{name};") == ch, name
    # clean codepoints only: html.unescape additionally DROPS HTML5
    # "invalid" codepoints (controls like 0x7F, noncharacters like
    # U+10FFFF) while this decoder keeps them — a documented divergence
    # in favor of byte-faithful extraction
    for cp in [65, 0x20AC, 0x4E2D, 10, 0xE9, 0x1F600]:
        assert decode_entities(f"&#{cp};") == _html.unescape(f"&#{cp};"), cp
        assert decode_entities(f"&#x{cp:X};") == _html.unescape(f"&#x{cp:X};"), cp


def test_extract_html_never_raises_property():
    """Hypothesis fuzz: arbitrary bytes never raise, offsets stay
    in-range and sorted per the emission order contract."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=2048))
    def prop(b):
        lines, media = extract_html(b"<html>" + b)
        offs = [o for _p, o, _t in lines] + [o for _r, o in media]
        for o in offs:
            assert 0 <= o < len(b) + 6
        from insurance_pdf_extractor_spark.operators.html import parse_html_meta

        parse_html_meta(b"<html>" + b)

    prop()


# ---------------------------------------------------------------------------
# tokenizer structure
# ---------------------------------------------------------------------------


def _doc(body: str) -> bytes:
    return f"<!DOCTYPE html>\n<html><body>{body}</body></html>".encode()


def test_simple_blocks_and_offsets():
    b = _doc("<p>alpha beta</p><p>gamma</p>")
    lines, media = extract_html(b)
    assert texts(lines) == ["alpha beta", "gamma"]
    # offsets point at the first content byte
    assert b[lines[0][1] : lines[0][1] + 5] == b"alpha"
    assert b[lines[1][1] : lines[1][1] + 5] == b"gamma"
    assert media == []


def test_inline_tags_transparent():
    lines, _ = extract_html(_doc("<p>a <b>bold</b> and <em>it</em> <a href='/x'>link</a></p>"))
    assert texts(lines) == ["a bold and it link"]


def test_attr_gt_lt_in_quotes():
    lines, _ = extract_html(_doc('<p title="a > b" data-x=\'< y\'>body</p>'))
    assert texts(lines) == ["body"]


def test_comment_doctype_pi_cdata_skipped():
    # NB: '<?' is a bogus comment per HTML5 — it ends at the FIRST '>',
    # so a PI containing markup leaks the remainder as text (spec
    # behavior, not a bug); the test uses a markup-free PI.
    b = _doc('<!-- <p>ghost</p> --><?xml version="1.0"?><![CDATA[<p>cd</p>]]><p>real</p>')
    lines, _ = extract_html(b)
    assert texts(lines) == ["real"]


def test_rawtext_elements_skipped():
    b = _doc(
        "<script>var x = '</div><p>decoy</p>';</script>"
        "<style>p:before { content: '<p>css</p>'; }</style>"
        "<title>not content</title><p>real</p>"
    )
    # NB: first '</script' inside the string closes the script, per the
    # HTML5 tokenizer — the trailing "';</script>" remnant parses as
    # stray text/tags, none of which emit blocks
    lines, _ = extract_html(b)
    assert "real" in texts(lines)
    assert not any("css" in t or "not content" in t for t in texts(lines))


def test_rawtext_close_case_insensitive_and_unclosed():
    lines, _ = extract_html(_doc("<SCRIPT>x</sCrIpT><p>ok</p>"))
    assert texts(lines) == ["ok"]
    lines, _ = extract_html(_doc("<p>before</p><script>never closed"))
    assert texts(lines) == ["before"]


def test_literal_lt_is_text():
    lines, _ = extract_html(_doc("<p>2 < 3 and 4 > 1</p>"))
    assert texts(lines) == ["2 < 3 and 4 > 1"]


def test_br_flushes_block():
    lines, _ = extract_html(_doc("<p>line one<br>line two</p>"))
    assert texts(lines) == ["line one", "line two"]


def test_whitespace_collapse_and_nbsp():
    lines, _ = extract_html(_doc("<p>  a\n\t b&nbsp;&nbsp;c  </p>"))
    assert texts(lines) == ["a b c"]


# ---------------------------------------------------------------------------
# boilerplate heuristics
# ---------------------------------------------------------------------------


def test_structural_strip():
    b = _doc(
        "<header><h1>Site</h1><nav><ul><li>Nav item</li></ul></nav></header>"
        "<p>content</p>"
        "<aside>related</aside><footer>copyright</footer>"
    )
    lines, _ = extract_html(b)
    assert texts(lines) == ["content"]


def test_structural_strip_nested_and_unclosed():
    # nested containers need TWO closes before content resumes
    lines, _ = extract_html(_doc("<nav><header>x</header>still nav</nav><p>ok</p>"))
    assert texts(lines) == ["ok"]
    # unclosed container strips to EOF (safe degradation)
    lines, _ = extract_html(_doc("<p>kept</p><nav><p>menu</p>"))
    assert texts(lines) == ["kept"]
    # stray closes never go negative / un-strip
    lines, _ = extract_html(_doc("</nav></footer><p>fine</p>"))
    assert texts(lines) == ["fine"]


def test_link_density_drops_short_link_rows():
    b = _doc('<p><a href="/a">alpha</a> <a href="/b">beta</a> <a href="/c">gamma</a></p>')
    lines, _ = extract_html(b)
    assert lines == []


def test_link_density_keeps_long_paragraphs_with_links():
    words = " ".join(f"w{i}" for i in range(30))
    b = _doc(f'<p>{words} <a href="/x">anchor</a> {words}</p>')
    lines, _ = extract_html(b)
    assert len(lines) == 1 and "anchor" in lines[0][2]


def test_repeat_frequency_strip():
    ad = '<div class="ad">Advertisement</div>'
    b = _doc(f"<p>one</p>{ad}<p>two</p>{ad}<p>three</p>{ad}")
    lines, _ = extract_html(b)
    assert texts(lines) == ["one", "two", "three"]
    # two occurrences stay (below REPEAT_MIN)
    b = _doc(f"<p>one</p>{ad}<p>two</p>{ad}")
    lines, _ = extract_html(b)
    assert texts(lines) == ["one", "Advertisement", "two", "Advertisement"]


def test_repeat_frequency_digit_folding():
    b = _doc("<p>Page 1 of 9</p><p>body text</p><p>Page 2 of 9</p><p>Page 3 of 9</p>")
    lines, _ = extract_html(b)
    assert texts(lines) == ["body text"]


# ---------------------------------------------------------------------------
# media
# ---------------------------------------------------------------------------


def test_img_media_refs_and_offsets():
    b = _doc('<p>before</p><img src="media:d/0" alt="x"><p>after</p>')
    lines, media = extract_html(b)
    assert media == [("media:d/0", b.index(b"<img"))]
    assert texts(lines) == ["before", "after"]


def test_img_in_boilerplate_dropped_and_missing_src_skipped():
    b = _doc('<nav><img src="media:d/nav"></nav><img alt="no src"><img src="media:d/1">')
    _, media = extract_html(b)
    assert media == [("media:d/1", b.rindex(b"<img"))]


def test_img_src_entity_decoded():
    _, media = extract_html(_doc('<img src="media:d/a&amp;b">'))
    assert media[0][0] == "media:d/a&b"


def test_video_audio_source_embed_media_refs():
    b = _doc(
        '<video src="media:d/v" controls></video>'
        '<audio controls><source src="media:d/a" type="audio/mpeg"></audio>'
        '<embed src="media:d/e">'
        "<p>text</p>"
    )
    lines, media = extract_html(b)
    assert [m[0] for m in media] == ["media:d/v", "media:d/a", "media:d/e"]
    assert media[0][1] == b.index(b"<video")
    assert media[1][1] == b.index(b"<source")
    assert texts(lines) == ["text"]
    # src-less <video> with a nav-wrapped source stays silent
    _, media = extract_html(_doc('<nav><video src="media:d/nav"></video></nav>'))
    assert media == []


# ---------------------------------------------------------------------------
# charset
# ---------------------------------------------------------------------------


def test_charset_sniff_and_decode():
    assert detect_charset(b'<meta charset="ISO-8859-1">') == "cp1252"
    assert detect_charset(b'<meta http-equiv="Content-Type" content="text/html; charset=utf-8">') == "utf-8"
    b = b'<!DOCTYPE html><html><head><meta charset="latin-1"></head><body><p>caf\xe9</p></body></html>'
    lines, _ = extract_html(b)
    assert texts(lines) == ["café"]


def test_sniff_format():
    assert sniff_format(b"%PDF-1.4 ...") == "pdf"
    assert sniff_format(b"<!DOCTYPE html><html>") == "html"
    assert sniff_format(b"<!doctype html>") == "html"
    assert sniff_format(b"<!Doctype html>") == "html"
    assert sniff_format(b"<HtMl>") == "html"
    assert sniff_format(b"%pdf-1.4") is None
    assert sniff_format(b"\xef\xbb\xbf<!DOCTYPE html>") is None
    assert sniff_format(b" <html>") is None
    assert sniff_format(b"<html lang='en'>") == "html"
    assert sniff_format(b"GIF89a") is None
    assert sniff_format(None) is None
    assert sniff_format(b"") is None


# ---------------------------------------------------------------------------
# <head> metadata scan
# ---------------------------------------------------------------------------


def test_parse_html_meta():
    from insurance_pdf_extractor_spark.operators.html import parse_html_meta

    b = (
        b"<!DOCTYPE html><html><head>\n"
        b'<meta charset="utf-8">\n'
        b"<!-- <title>ghost</title> -->\n"
        b"<title>Real &amp; True</title>\n"
        b'<meta name="AUTHOR" content="Jo &lt;dev&gt;">\n'
        b'<meta name="description" content="a &mdash; b">\n'
        b'<meta property="og:title" content="OG title">\n'
        b"<script>document.title = '<title>js</title>';</script>\n"
        b"</head><body><title>late</title></body></html>"
    )
    m = parse_html_meta(b)
    assert m["title"] == "Real & True"  # first title wins, comment skipped
    assert m["author"] == "Jo <dev>"  # attr names case-insensitive, entities decoded
    assert m["description"] == "a — b"
    assert m["og_title"] == "OG title"
    assert m["charset"] == "utf-8"
    assert m["lang"] is None
    m = parse_html_meta(b'<!DOCTYPE html><html lang="fr-CA"><head><title>t</title></head>')
    assert m["lang"] == "fr-CA"
    # CDATA runs to ']]>' (as in the extractor and stdlib html.parser):
    # the <title> inside it is not the document's title
    m = parse_html_meta(b"<html><head><![CDATA[ a > b <title>Fake</title> ]]><title>Real</title></head>")
    assert m["title"] == "Real"


def test_parse_html_meta_stops_at_body_and_handles_garbage():
    from insurance_pdf_extractor_spark.operators.html import parse_html_meta

    b = b'<html><body><meta name="description" content="not head">'
    assert parse_html_meta(b)["description"] is None
    assert parse_html_meta(b"%PDF-1.4")["title"] is None
    assert parse_html_meta(None)["title"] is None
    assert parse_html_meta(b"<html><head><title>never closed")["title"] == "never closed"


def test_scan_html_meta_spark(spark):
    from insurance_pdf_extractor_spark.operators.html import scan_html_meta
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs = spark.createDataFrame(
        [("md-1", "alpha beta gamma"), ("md-2", "")], "doc_id string, text string"
    )
    raw = render_documents_raw(docs, mix="html")
    got = {r["doc_id"]: r["meta"].asDict() for r in scan_html_meta(raw).collect()}
    assert got["md-1"]["title"] == "Document md-1"
    assert got["md-1"]["description"] == "Insurance quote md-1 — 3 words"
    assert got["md-2"]["description"] == "Insurance quote md-2 — 0 words"
    assert got["md-1"]["author"] == "Author md-1"


# ---------------------------------------------------------------------------
# hostile inputs
# ---------------------------------------------------------------------------


def test_hostile_mutation_sweep():
    from insurance_pdf_extractor_spark.sources.render import render_html

    base, _ = render_html("hx-1", " ".join(f"word{i % 9} data" for i in range(120)))
    rng = random.Random(20260821)
    for _trial in range(40):
        b = bytearray(base)
        op = rng.randrange(3)
        if op == 0:  # flips
            for _ in range(rng.randrange(1, 12)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1:  # truncation
            b = b[: rng.randrange(1, len(b))]
        else:  # splice a random window somewhere else
            i, j = sorted(rng.randrange(len(b)) for _ in range(2))
            b = b[:i] + b[j:] + b[i:j]
        lines, media = extract_html(bytes(b))
        assert isinstance(lines, list) and isinstance(media, list)
        for _pg, off, t in lines:
            assert 0 <= off < len(b) and isinstance(t, str)
        from insurance_pdf_extractor_spark.operators.html import parse_html_meta

        assert isinstance(parse_html_meta(bytes(b)), dict)


def test_hostile_bombs():
    # deep nesting: no recursion, bounded counters
    lines, _ = extract_html(b"<html>" + b"<div>" * 50_000 + b"x" + b"</div>" * 50_000)
    assert texts(lines) == ["x"]
    # entity bombs decode to single replacement chars
    lines, _ = extract_html(_doc("<p>&#999999999;&#x7FFFFFFF;a</p>"))
    assert texts(lines) == ["��a"]
    # unterminated tag/comment/attr at EOF
    assert extract_html(b"<html><p abc")[0] == []
    assert extract_html(b"<html><!-- never closed")[0] == []
    assert extract_html(b'<html><p title="unclosed value')[0] == []
    # '<' spam is linear, emitted as literal text
    lines, _ = extract_html(b"<html><p>" + b"< " * 5000 + b"</p>")
    assert len(lines) == 1


def test_tag_cut_at_eof_is_dropped():
    """HTML5 eof-in-tag: a tag with no closing '>' before EOF is dropped,
    with its attributes — no media span, no head metadata."""
    from insurance_pdf_extractor_spark.operators.html import parse_html_meta

    lines, media = extract_html(b"<html><body><p>t</p><img src=media:x/1")
    assert (texts(lines), media) == (["t"], [])
    assert texts(extract_html(b"<html><p>t<b")[0]) == ["t"]
    assert parse_html_meta(b"<html><head><meta name=author content=x")["author"] is None
    assert parse_html_meta(b"<html lang=en><head><title>T</title></hea")["title"] == "T"


# ---------------------------------------------------------------------------
# renderer ↔ fixture mirror
# ---------------------------------------------------------------------------


def test_renderer_fixture_byte_mirror_and_spans():
    from make_fixtures import expected_html_spans, fx_html_bytes

    from insurance_pdf_extractor_spark.operators.assemble import extract_spans
    from insurance_pdf_extractor_spark.sources.render import render_html

    vocab = "the fast key order sort table scan merge part window small hash".split()
    rng = random.Random(5)
    cases = [("d-empty", ""), ("d-one", "alpha")]
    for i in range(30):
        n = rng.randrange(0, 140)
        cases.append((f"d-{i}", " ".join(rng.choice(vocab) for _ in range(n))))
    from insurance_pdf_extractor_spark.sources.render import charset_for_doc

    seen_charsets = set()
    for doc_id, text in cases:
        seen_charsets.add(charset_for_doc(doc_id))
        rendered, n_pages = render_html(doc_id, text)
        assert rendered == fx_html_bytes(doc_id, text), doc_id
        got = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in extract_spans(rendered, [], n_pages)
        ]
        assert got == expected_html_spans(doc_id, text), doc_id
    # the charset matrix must actually be exercised by these cases:
    # cp1252 pages carry LITERAL § / é high bytes, utf-8 pages entities
    assert seen_charsets == {"utf-8", "cp1252"}


def test_media_spans_interleave_in_order():
    from insurance_pdf_extractor_spark.operators.assemble import extract_spans
    from insurance_pdf_extractor_spark.sources.render import render_html

    text = " ".join(f"word{i % 5} filler" for i in range(200))  # >6 paragraphs
    rendered, n_pages = render_html("dm-1", text)
    spans = extract_spans(rendered, [], n_pages)
    offs = [s["offset"] for s in spans]
    assert offs == sorted(offs)
    media = [s for s in spans if s["kind"] == "media"]
    assert [m["media_ref"] for m in media] == [f"media:dm-1/{k}" for k in range(len(media))]
    assert len(media) >= 2


# ---------------------------------------------------------------------------
# differential oracle: stdlib HTMLParser reference implementation
# ---------------------------------------------------------------------------


def _corpus_pages():
    """(doc_id, rendered page) pairs of the differential corpus."""
    from insurance_pdf_extractor_spark.sources.render import render_html

    for doc_id, n_words in [("dd-0", 0), ("dd-1", 7), ("dd-2", 95), ("dd-3", 200), ("dd-4", 411)]:
        rng = random.Random(zlib.crc32(doc_id.encode()))
        text = " ".join(rng.choice(_VOCAB) for _ in range(n_words))
        yield doc_id, render_html(doc_id, text)[0]


_DIRT = [
    b"<html><body><P>upper<p>implied close<LI>item<li>item2</body>",
    b'<html><TABLE><tr><td>a</td><td>b<table><tr><td>inner</td></tr></table></td></tr></TABLE>',
    b"<html><p title='q > r'>quoted</p><img src=media:u/1 alt=x><p>tail</p>",
    b"<html><!-- <p>no</p> --><div>yes</div><script>var p = '<p>no</p>'</script>",
    b"<html><nav><p>menu</p><img src='media:nav/1'></nav><main><p>body text</p></main>",
    b"<html><p>a<br>b<br/>c</p>",
    b"<html><blockquote>quoted block</blockquote><pre>pre text</pre>",
    b"<html><p>x &amp; y &lt;z&gt; &#65;&#x42;</p>",
    b'<html><video src="media:v/1" controls></video><audio><source src="media:a/1"></audio>',
]


def _random_markup(seed: int = 99, trials: int = 50):
    """Seeded random well-formed-ish body markup soup."""
    rng = random.Random(seed)
    tags = ["p", "div", "b", "em", "span", "li", "h2", "td"]
    for _trial in range(trials):
        parts = ["<html><body>"]
        depth_stack = []
        for _ in range(rng.randrange(5, 40)):
            op = rng.random()
            if op < 0.35:
                t = rng.choice(tags)
                parts.append(f"<{t}>")
                depth_stack.append(t)
            elif op < 0.55 and depth_stack:
                parts.append(f"</{depth_stack.pop()}>")
            elif op < 0.8:
                parts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(1, 6))))
            elif op < 0.9:
                parts.append(f'<img src="media:r/{rng.randrange(9)}">')
            else:
                parts.append("<br>")
        parts.append("</body></html>")
        yield "".join(parts).encode()


def test_differential_vs_stdlib_parser_corpus():
    """The engine's regex/byte tokenizer vs an INDEPENDENT stdlib
    html.parser-based reference driving the same block model: block
    text sequences and media-ref sequences must agree on the rendered
    corpus (offsets are pinned by the fixture geometry mirror — the
    stdlib parser cannot report byte positions)."""
    from naive_html import naive_extract

    for doc_id, b in _corpus_pages():
        lines, media = extract_html(b)
        ref_texts, ref_media = naive_extract(b)
        assert [t for _p, _o, t in lines] == ref_texts, doc_id
        assert [m[0] for m in media] == ref_media, doc_id


def test_differential_vs_stdlib_parser_dirt():
    """Dirty-construct differential: mixed casing, implied closes,
    nested tables, unquoted attributes, comments with markup, quoted
    '>' — both implementations must extract the same content."""
    from naive_html import naive_extract

    for i, b in enumerate(_DIRT):
        lines, media = extract_html(b)
        ref_texts, ref_media = naive_extract(b)
        assert [t for _p, _o, t in lines] == ref_texts, (i, lines, ref_texts)
        assert [m[0] for m in media] == ref_media, i


# a tag, open or closing, and the comments whose bodies are not markup
_TAG_OR_COMMENT = re.compile(rb"<!--.*?(?:-->|$)|</?[a-zA-Z][^<>]*>", re.S)
_QUOTED_VALUE = re.compile(rb"""=\s*("[^"]*"|'[^']*')""")


def _cut_in_tags():
    """Corpus and dirt pages cut off inside a tag: after its '<' or '</'
    (no tag yet: text), after the first name letter, before its '>',
    and at every byte inside a quoted value up to its closing quote
    (a dirt-page value holds a '>', so such a cut leaves one behind)."""
    pages = list(_corpus_pages()) + [(f"dirt-{i}", b) for i, b in enumerate(_DIRT)]
    for doc_id, b in pages:
        cuts = set()
        for m in _TAG_OR_COMMENT.finditer(b):
            if not m.group().startswith(b"<!--"):
                name = m.start() + (2 if m.group()[1:2] == b"/" else 1)
                cuts |= {name, name + 1, m.end() - 1}
        for q in _QUOTED_VALUE.finditer(b):
            cuts.update(range(q.start(1) + 1, q.end(1)))
        for cut in sorted(cuts):
            yield doc_id, b[:cut]


def test_differential_vs_stdlib_parser_cut_tags():
    """Pages cut off inside a tag: the engine and both stdlib references
    drop the cut tag, also one cut inside a quoted value, and keep a
    bare '<' or '</' as text (extracted blocks, media and head metadata
    agree)."""
    from naive_html import naive_extract, naive_head

    from insurance_pdf_extractor_spark.operators.html import parse_html_meta

    n = 0
    for doc_id, b in _cut_in_tags():
        lines, media = extract_html(b)
        ref_texts, ref_media = naive_extract(b)
        assert [t for _p, _o, t in lines] == ref_texts, (doc_id, b[-40:])
        assert [m[0] for m in media] == ref_media, (doc_id, b[-40:])
        assert parse_html_meta(b) == naive_head(b), (doc_id, b[-40:])
        n += 1
    assert n > 200


def test_differential_vs_stdlib_parser_random_markup():
    """Seeded random well-formed-ish markup soup: generated from a
    grammar both parsers must agree on."""
    from naive_html import naive_extract

    for b in _random_markup():
        lines, media = extract_html(b)
        ref_texts, ref_media = naive_extract(b)
        assert [t for _p, _o, t in lines] == ref_texts, b
        assert [m[0] for m in media] == ref_media, b


# markup hidden from the head scan: CDATA runs to ']]>', a PI and a
# '</ …>' bogus comment to the first '>', and '<title/>' has no body
_HEAD_DECOYS = [
    b"<html><head><![CDATA[ a > b <title>Fake</title> ]]><title>Real</title></head>",
    b"<html><head><![CDATA[ <meta name=author content=Fake> > "
    b'<meta name="description" content="Fake"> ]]>'
    b"<meta name=author content=Real><meta name=description content=Real></head>",
    b'<!DOCTYPE html><![CDATA[ > <html lang="xx"> ]]><html lang="en"><head></head>',
    b"<html><head><?pi <title>Fake</title> ?><title>Real</title></head>",
    b"<html><head></ <title>Fake</title> ><title>Real</title></head>",
    b"<html><head><title/><meta property=og:title content=og><title>Real</title></head>",
]


def _random_heads(seed: int = 17, trials: int = 300):
    """Seeded random <head> soup over constructs both tokenizers read
    alike (every tag terminated, raw-text closes without attributes)."""
    rng = random.Random(seed)

    def words() -> str:
        return " ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(0, 4)))

    atoms = [
        lambda: f"<title>{words()} &amp; {words()}</title>",
        lambda: f"<TITLE>{words()} <b>x</b></TITLE >",
        lambda: "<title/>",
        lambda: f'<meta name="author" content="{words()}">',
        lambda: f"<meta name=Description content='{words()} &mdash; d'>",
        lambda: f"<meta property=og:title content={rng.choice(_VOCAB)}>",
        lambda: "<meta name=author content>",
        lambda: f"<!-- <title>{words()}</title> -->",
        lambda: f"<![CDATA[ > <title>{words()}</title><meta name=author content=cd> ]]>",
        lambda: "<?pi <meta name=description content=pi> ?>",
        lambda: "</ <title>bogus</title> >",
        lambda: f"<script>var t = '<title>{words()}</title>';</script>",
        lambda: "<noscript><meta name=author content=ns></noscript>",
        lambda: "<style>title { color: red }</style>",
        lambda: f"<html lang={rng.choice(['de', 'en-GB', ''])}>",
        lambda: "<link rel=icon href='/i.png'>",
        lambda: words(),
        lambda: "</head>" if rng.random() < 0.2 else "",
        lambda: "<body>" if rng.random() < 0.2 else "<br/>",
    ]
    for _trial in range(trials):
        parts = [rng.choice(["<!DOCTYPE html><html>", "<html>", "<HTML lang=fr>"]), "<head>"]
        parts += [rng.choice(atoms)() for _ in range(rng.randrange(1, 12))]
        yield "".join(parts).encode()


def test_head_differential_vs_stdlib_parser():
    """parse_html_meta vs a stdlib html.parser head reader
    (naive_html.naive_head) on the extractor differentials' inputs,
    head decoys and seeded random <head> markup."""
    from naive_html import naive_head

    from insurance_pdf_extractor_spark.operators.html import parse_html_meta

    inputs = [b for _d, b in _corpus_pages()] + _DIRT + list(_random_markup())
    inputs += _HEAD_DECOYS + list(_random_heads())
    titled = 0
    for b in inputs:
        got = parse_html_meta(b)
        assert got == naive_head(b), b
        titled += got["title"] is not None
    assert titled > 100  # the random heads exercise the title reader
    for b in _HEAD_DECOYS:
        got = parse_html_meta(b)
        assert "Fake" not in got.values() and "xx" not in got.values(), b


# ---------------------------------------------------------------------------
# Spark pipeline (interleaved formats)
# ---------------------------------------------------------------------------


_VOCAB = "the fast key order sort table scan merge part window small hash join data".split()


def _pairs(n, seed=11):
    rng = random.Random(seed)
    return [
        (f"idoc-{i:04d}", " ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(0, 160))))
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def interleaved_corpus(spark):
    return spark.createDataFrame(_pairs(90), "doc_id string, text string")


def _expected_for(doc_id: str, text: str):
    from make_fixtures import expected_html_spans, expected_spans

    from insurance_pdf_extractor_spark.sources.render import encoding_for_doc, format_for_doc

    if format_for_doc(doc_id) == "html":
        return expected_html_spans(doc_id, text)
    return expected_spans(doc_id, text, encoding=encoding_for_doc(doc_id))


def test_spark_interleaved_pipeline_matches_fixture(spark, interleaved_corpus):
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents
    from insurance_pdf_extractor_spark.sources.render import format_for_doc, render_documents_raw

    docs = interleaved_corpus.select("doc_id", "text")
    pairs = {str(r["doc_id"]): r["text"] for r in docs.collect()}
    # the deterministic format pick must actually interleave this corpus
    fmts = {format_for_doc(d) for d in pairs}
    assert fmts == {"pdf", "html"}

    raw = render_documents_raw(docs, mix="interleaved")
    out, rejects = extract_documents(raw, presalted=True)
    assert rejects.count() == 0
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in out.collect()
    }
    assert set(got) == set(pairs)
    for doc_id, text in pairs.items():
        assert got[doc_id] == _expected_for(doc_id, text), doc_id


def test_spark_interleaved_parallelism_invariance(spark, interleaved_corpus, shuffle_partitions):
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs = interleaved_corpus.select("doc_id", "text").limit(40)

    def run(n_part):
        with shuffle_partitions(n_part):
            raw = render_documents_raw(docs, partitions=n_part, mix="interleaved")
            out, _ = extract_documents(raw, presalted=True)
            return sorted(
                (r["doc_id"], tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]))
                for r in out.collect()
            )

    assert run(2) == run(7)


def test_oversized_html_stays_in_fused_kernel(spark):
    """HTML docs bypass the PDF page-range shard path regardless of
    size — result identical to the small-doc contract."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    from insurance_pdf_extractor_spark.sources.render import format_for_doc

    # deterministically find an id the format pick renders as HTML
    big_id = next(f"big-html-{i}" for i in range(100) if format_for_doc(f"big-html-{i}") == "html")
    big_text = " ".join(f"word{i % 13} text" for i in range(3000))
    docs = spark.createDataFrame([(big_id, big_text)], "doc_id string, text string")
    raw = render_documents_raw(docs, mix="interleaved")
    # force the shard threshold below this doc's size
    out, rejects = extract_documents(raw, presalted=True, shard_size_bytes=1024)
    assert rejects.count() == 0
    spans = out.collect()[0]["spans"]
    assert len(spans) > 50
    expected = _expected_for(big_id, big_text)
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans] == expected


def test_spark_mixed_case_doctype_extracts(spark):
    """The plan's prefix classifier agrees with the kernel's
    sniff_format: a mixed-case doctype page extracts (with or without a
    stored ``magic`` column), while BOM- or whitespace-prefixed pages
    are rejected with a reason."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents

    page = b"<!Doctype html><html><body><p>Policy number QX-1.</p></body></html>"
    rows = [
        ("mixed-case", page),
        ("bom", b"\xef\xbb\xbf" + page.upper()),
        ("space", b" " + page),
    ]
    schema = "doc_id string, content binary, media array<struct<media_ref:string,offset:int>>, n_pages int, size_bytes long"
    for with_magic in (False, True):
        data = [(d, bytearray(c), [], 1, len(c)) for d, c in rows]
        if with_magic:
            data = [r + (bytearray(r[1][:5]),) for r in data]
        raw = spark.createDataFrame(data, schema + (", magic binary" if with_magic else ""))
        docs, rejects = extract_documents(raw)
        spans = {r["doc_id"]: [s["text"] for s in r["spans"]] for r in docs.collect()}
        assert spans == {"mixed-case": ["Policy number QX-1."]}, with_magic
        assert {r["doc_id"]: r["reject_reason"] for r in rejects.collect()} == {
            "bom": "invalid_pdf",
            "space": "invalid_pdf",
        }


def test_field_extraction_equal_across_formats(spark):
    """End-to-end format independence: the SAME logical document —
    its post-boilerplate content lines — rendered once as a PDF
    content stream (the corpus generator's native shape) and once as
    an HTML page (one <p> per line), must extract the IDENTICAL field
    record, status, and validation outcome through extract_results.
    The scrape/validate/normalize stages see only span text, so any
    divergence would mean the HTML block reconstruction changed line
    content or order."""
    from insurance_pdf_extractor_spark.constants import FIELD_NAMES
    from insurance_pdf_extractor_spark.corpus import generate_corpus, to_raw_df
    from insurance_pdf_extractor_spark.plans.pipeline import extract_results

    docs = [
        d
        for d in generate_corpus(40, seed=13)
        if d.status != "error" and d.expected_spans is not None
    ][:25]

    def esc(s):
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    html_rows = []
    for d in docs:
        body = "".join(
            f"<p>{esc(s['text'])}</p>\n"
            for s in d.expected_spans
            if s["kind"] == "text" and s["text"]
        )
        content = f"<!DOCTYPE html>\n<html><head><title>{d.doc_id}</title></head><body>\n{body}</body></html>\n".encode()
        media = [(m["media_ref"], m["offset"]) for m in d.media] if d.media else []
        html_rows.append((d.doc_id, bytearray(content), media, 1, len(content)))
    from insurance_pdf_extractor_spark.schema import DOCUMENTS_RAW

    pdf_res = extract_results(to_raw_df(spark, docs))
    html_res = extract_results(spark.createDataFrame(html_rows, schema=DOCUMENTS_RAW))

    cols = ["doc_id", "status"] + list(FIELD_NAMES)
    pdf = {r["doc_id"]: tuple(str(r[c]) for c in cols) for r in pdf_res.select(*cols).collect()}
    html = {r["doc_id"]: tuple(str(r[c]) for c in cols) for r in html_res.select(*cols).collect()}
    assert set(pdf) == set(html)
    for doc_id in pdf:
        assert pdf[doc_id] == html[doc_id], f"field divergence on {doc_id}"


def test_spark_pipeline_hostile_html_poison_rows(spark):
    """Mutated HTML documents flow through the Spark kernel without
    task failure: every row yields a well-formed (possibly empty)
    spans array — the poison-row discipline at the Arrow batch level."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents
    from insurance_pdf_extractor_spark.schema import DOCUMENTS_RAW
    from insurance_pdf_extractor_spark.sources.render import render_html

    base, _ = render_html("hz-1", " ".join(f"word{i % 9} data" for i in range(150)))
    rng = random.Random(77)
    rows = []
    for t in range(30):
        b = bytearray(base)
        op = rng.randrange(3)
        if op == 0:
            for _ in range(rng.randrange(1, 15)):
                b[rng.randrange(20, len(b))] = rng.randrange(256)  # keep magic intact
        elif op == 1:
            b = b[: rng.randrange(20, len(b))]
        else:
            i, j = sorted(rng.randrange(20, len(b)) for _ in range(2))
            b = b[:i] + b[j:] + b[i:j]
        rows.append((f"hz-{t}", bytearray(bytes(b)), [], 1, len(b)))
    raw = spark.createDataFrame(rows, schema=DOCUMENTS_RAW)
    out, rejects = extract_documents(raw, presalted=True)
    got = out.collect()
    assert len(got) + rejects.count() == 30
    for r in got:
        for s in r["spans"]:
            assert s["kind"] in ("text", "media")
            assert s["offset"] >= 0


def test_classify_rejects_accepts_html_magic(spark):
    from insurance_pdf_extractor_spark.plans.pipeline import classify_rejects

    rows = [
        ("ok-pdf", bytearray(b"%PDF-1.4 x"), 10, 1),
        ("ok-html", bytearray(b"<!DOCTYPE html><p>x</p>"), 23, 1),
        ("ok-html-lower", bytearray(b"<!doctype html>"), 15, 1),
        ("ok-html-bare", bytearray(b"<html><p>x</p>"), 14, 1),
        ("bad-gif", bytearray(b"GIF89a...."), 10, 1),
    ]
    raw = spark.createDataFrame(
        rows, "doc_id string, content binary, size_bytes long, n_pages int"
    )
    got = {
        r["doc_id"]: r["reject_reason"]
        for r in classify_rejects(raw).select("doc_id", "reject_reason").collect()
    }
    assert got["ok-pdf"] is None and got["ok-html"] is None
    assert got["ok-html-lower"] is None and got["ok-html-bare"] is None
    assert got["bad-gif"] == "invalid_pdf"
