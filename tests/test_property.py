"""Property-based robustness: the kernels never crash unexpectedly.

* arbitrary text/markup into the extraction kernel -> either pages or a
  typed MalformedHocr/MalformedOcrOutput error, never another exception;
* sexpr print -> parse round-trips arbitrary zone trees;
* both HTML tokenizers agree on arbitrary tag-soup built from corpus
  vocabulary;
* on well-formed documents, the expat path of ``parse_html`` builds the
  html.parser tree and the same extraction output, or falls back;
* UAX#29 boundaries are strictly increasing and end at len(text).
"""

import string
from unittest import mock

from hypothesis import find, given, settings, strategies as st

from ocrodjvu_spark.functions.extract import extract_one
from ocrodjvu_spark.kernel import hocr, htmldom, sexpr
from ocrodjvu_spark.kernel.segment import (
    simple_word_break_iterator, uax29_word_break_iterator)
from ocrodjvu_spark.kernel.zones import MalformedHocr, MalformedOcrOutput

# -- extraction never raises untyped errors --------------------------------

tag_soup = st.text(
    alphabet=string.ascii_letters + string.digits + ' <>/"=\'&;#-\n\t.',
    max_size=400,
)


@given(tag_soup)
@settings(max_examples=200, deadline=None)
def test_extract_never_crashes_untyped(text):
    try:
        pages = hocr.extract_sexprs(
            '<html><body><div class="ocr_page" title="bbox 0 0 100 100">'
            + text + '</div></body></html>')
        assert isinstance(pages, list)
    except (MalformedHocr, MalformedOcrOutput):
        pass  # typed error channel


@given(st.binary(max_size=300))
@settings(max_examples=100, deadline=None)
def test_extract_arbitrary_bytes(data):
    try:
        hocr.extract_sexprs(data, fix_utf8=True, page_size=(10, 10))
    except (MalformedHocr, MalformedOcrOutput):
        pass


# -- sexpr round trip -------------------------------------------------------

leaf_text = st.text(max_size=30)
coords = st.integers(min_value=-10_000, max_value=10_000)


def zone_values(depth):
    head = st.sampled_from(['page', 'column', 'region', 'para', 'line',
                            'word', 'char'])
    if depth == 0:
        children = st.lists(leaf_text, min_size=1, max_size=3)
    else:
        children = st.lists(
            st.one_of(leaf_text, zone_values(depth - 1)),
            min_size=1, max_size=3)
    return st.tuples(head, coords, coords, coords, coords, children).map(
        lambda t: [t[0], t[1], t[2], t[3], t[4]] + t[5])


@given(zone_values(2))
@settings(max_examples=300, deadline=None)
def test_sexpr_roundtrip(value):
    printed = sexpr.print_compact(value)
    assert sexpr.parse(printed) == value
    pretty = sexpr.print_pretty(value, width=60)
    assert sexpr.parse(pretty) == value


# -- tokenizer agreement -----------------------------------------------------

fragments = st.lists(st.sampled_from([
    '<div class="ocr_page" title="bbox 0 0 9 9">', '</div>',
    '<span class="ocr_line">', '</span>',
    '<span title="bbox 1 2 3 4">', '<p>', '</p>', '<h3>', '</h3>',
    'text', ' ', '&amp;', '&#65;', '<img src=x>', '<!-- c -->',
    '<script>z</script>', '<meta name="m" content="c"/>',
]), max_size=25).map(''.join)


def _canon(e):
    if not isinstance(e.tag, str):
        return ('#c', e.text, e.tail)
    return (e.tag, dict(e.attrib), e.text, e.tail,
            tuple(_canon(c) for c in e))


@given(fragments)
@settings(max_examples=300, deadline=None)
def test_tokenizers_agree(markup):
    assert _canon(htmldom.parse_html(markup, fast=True)) == \
        _canon(htmldom.parse_html(markup, fast=False))


# well-formed documents: a random element tree under an html/head/body
# wrapper, so expat accepts most of them. The pieces include XML-legal
# markup that HTML recovery rebuilds (<p><div>, <li><li>, <br>x</br>,
# &#150;, a newline inside an attribute), which the C path must refuse.
_leaves = st.sampled_from([
    'text', ' ', '\n', 'a\tb', '&amp;', '&#65;', '&#150;', '&lt;x&gt;',
    '<!-- c -->', '<br/>', '<img src="x"/>',
])
_attrs = st.sampled_from([
    '', ' class="ocr_page" title="bbox 0 0 99 99"',
    ' class="ocr_line" title="bbox 1 2 30 40"',
    ' class="ocrx_word" title="bbox 1 2 3 4; x_wconf 9"',
    ' title="bbox 5 6 7 8"', ' title="a\nb"', " lang='en'",
])
_tags = st.sampled_from(['div', 'p', 'span', 'li', 'ul', 'br', 'b', 'h3'])
_elements = st.recursive(
    _leaves,
    lambda kids: st.tuples(_tags, _attrs, st.lists(kids, max_size=4)).map(
        lambda t: f'<{t[0]}{t[1]}>{"".join(t[2])}</{t[0]}>'),
    max_leaves=30)
_heads = st.sampled_from([
    '<html><head><meta name="ocr-capabilities" '
    'content="ocr_page ocr_line ocrx_word"/></head>',
    "<html><head><meta name='ocr-system' content='tesseract 3.02'/>"
    '</head>',
    '<?xml version="1.0" encoding="UTF-8"?>\n<html xmlns="http://www.w3.'
    'org/1999/xhtml" xml:lang="en">\n <head><title></title></head>\n',
])
documents = st.tuples(_heads, st.lists(_elements, max_size=4)).map(
    lambda t: t[0] + '<body>' + ''.join(t[1]) + '</body>\n</html>\n')


def test_documents_reach_both_paths():
    find(documents, lambda d: htmldom._parse_xml(d) is not None
         and '<p' in d)
    find(documents, lambda d: htmldom._parse_xml(d) is None)


@given(documents)
@settings(max_examples=300, deadline=None)
def test_c_path_agrees(doc):
    assert _canon(htmldom.parse_html(doc)) == \
        _canon(htmldom.parse_html(doc, fast=False))
    fast = extract_one(doc)
    with mock.patch.object(htmldom, '_parse_xml', lambda text: None):
        assert extract_one(doc) == fast


# -- segmentation invariants --------------------------------------------------

@given(st.text(max_size=120))
@settings(max_examples=300, deadline=None)
def test_break_offsets_monotone(text):
    for it in (simple_word_break_iterator(text),
               uax29_word_break_iterator(text)):
        offsets = list(it)
        if text:
            assert offsets[-1] == len(text)
            assert all(a < b for a, b in zip(offsets, offsets[1:]))
            assert all(0 < o <= len(text) for o in offsets)
        else:
            assert offsets == []
