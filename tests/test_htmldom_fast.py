"""Fast regex tokenizer == stdlib html.parser over the whole corpus.

Both feed the same _TreeBuilder, so recovery semantics are shared; this
pins the tokenizers to byte-identical DOMs on every reference fixture
plus adversarial fragments.
"""

import glob
from unittest import mock

import pytest

from ocrodjvu_spark.functions import extract
from ocrodjvu_spark.kernel import htmldom

FIXTURES = sorted(glob.glob('/root/reference/tests/hocr2djvused/*.html'))

ADVERSARIAL = [
    '',
    'plain text only',
    '<p>unclosed paragraph <span>x',
    '<p>a<h3>b</h3>c</p>',
    '<div title="a < b">angle in attr</div>',
    '<span title=unquoted>u</span>',
    "<meta name='single' content='quotes'>",
    '<script type="t">raw < & content</script>tail',
    '<!-- comment -->tail<div>x</div>',
    '<b>&amp;&#8216;&nbsp;</b>',
    '< notatag <div>y</div>',
    '<div/><p/>',
    '<DIV CLASS="UP">case</DIV>',
    '<div title="bbox 1 2 3 4"><img src=x></div>',
    '</stray></p><div>after stray</div>',
    '<td>cell</td>',
    "<div title=don't>x</div>",       # quote inside unquoted value
    '<div title="a > b">x</div>',     # '>' inside quoted value
    "<div title='it<>s'>y</div>",
    '<div title=bare"quote>z</div>',
    '<p a=1/>tail</p>',               # unquoted value before '/>'
    "<p a=don't/>tail</p>",           # same, via the slow path
    '<script>var a;</scripting>x</script>tail',  # CDATA non-matching end
    '<script>y</script >z',
]


def canon(e):
    if not isinstance(e.tag, str):
        return ('#comment', e.text, e.tail)
    return (e.tag, dict(e.attrib), e.text, e.tail,
            tuple(canon(c) for c in e))


@pytest.mark.parametrize('path', FIXTURES,
                         ids=[p.rsplit('/', 1)[1] for p in FIXTURES])
def test_corpus_equivalence(path):
    text = open(path, 'rb').read().decode('UTF-8', 'replace')
    assert canon(htmldom.parse_html(text, fast=True)) == \
        canon(htmldom.parse_html(text, fast=False))


@pytest.mark.parametrize('fragment', ADVERSARIAL)
def test_adversarial_equivalence(fragment):
    assert canon(htmldom.parse_html(fragment, fast=True)) == \
        canon(htmldom.parse_html(fragment, fast=False))


def test_truncated_inputs_fast_behavior():
    """Documented divergence on EOF-truncated garbage: the fast tokenizer
    behaves like libxml2 (keeps unterminated script text, drops a
    truncated tag) where html.parser drops/keeps the opposite way."""
    root = htmldom.parse_html('<script>never closed', fast=True)
    [script] = root.find('body')
    assert script.text == 'never closed'
    root = htmldom.parse_html('<div', fast=True)
    assert root.find('body') is None  # truncated tag dropped entirely
    root = htmldom.parse_html('<div att="unterminated', fast=True)
    assert root.find('body') is None


def test_gt_inside_quoted_attribute():
    """'>' inside a quoted attribute must not truncate the tag."""
    markup = ('<div class="ocr_page" title="bbox 0 0 9 9; note a > b">'
              'x</div>')
    for fast in (True, False):
        root = htmldom.parse_html(markup, fast=fast)
        [div] = list(root.find('body'))
        assert div.get('title') == 'bbox 0 0 9 9; note a > b'
        assert div.text == 'x'
    assert canon(htmldom.parse_html(markup, fast=True)) == \
        canon(htmldom.parse_html(markup, fast=False))


# -- the C (expat) path ------------------------------------------------------
#
# parse_html builds well-formed documents with expat when the tree is
# provably _TreeBuilder's. Every pin below is a complete document: the
# ones in FALLBACK would build a different tree on the C path, so each
# must be refused by exactly the guard it names; the ones in C_PATH must
# take the C path and still equal the html.parser tree.

def _doc(body, head='<title>t</title>', html='<html>'):
    return f'{html}<head>{head}</head><body>{body}</body></html>'


TESSERACT = '''<?xml version="1.0" encoding="UTF-8"?>
<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN"
    "http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">
<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="en" lang="en">
 <head>
  <title></title>
  <meta http-equiv="Content-Type" content="text/html;charset=utf-8" />
  <meta name='ocr-system' content='tesseract 3.02' />
  <meta name='ocr-capabilities' \
content='ocr_page ocr_carea ocr_par ocr_line ocrx_word'/>
 </head>
 <body>
  <div class='ocr_page' id='page_1' \
title='image "p.png"; bbox 0 0 640 480; ppageno 0'>
   <div class='ocr_carea' id='block_1_1' title="bbox 36 92 618 361">
    <p class='ocr_par' dir='ltr' id='par_1' title="bbox 36 92 618 184">
     <span class='ocr_line' id='line_1' title="bbox 36 92 580 122">\
<span class='ocrx_word' id='word_1' title='bbox 36 92 96 122; x_wconf 90' \
lang='eng'>Tom &amp; <strong>Jerry</strong></span> \
<span class='ocrx_word' id='word_2' title='bbox 109 92 199 122; x_wconf 87' \
lang='eng'>&#8220;caf&#233;&#8221;</span>
     </span>
     <span class='ocr_line' id='line_2' title="bbox 36 140 618 184">\
<span class='ocrx_word' id='word_3' title='bbox 36 140 120 184; x_wconf 93' \
lang='eng'>a&gt;b</span>
     </span>
    </p>
   </div>
  </div>
 </body>
</html>
'''

C_PATH = {
    'tesseract_xhtml': TESSERACT,
    'xhtml_xml_lang': _doc('<p>x</p>', html='<html lang="de" xml:lang="de" '
                           'xmlns="http://www.w3.org/1999/xhtml">'),
    # str input is already decoded: the declared encoding must not apply
    'latin1_declaration': '<?xml version="1.0" encoding="ISO-8859-1"?>'
                          + _doc('<p>café ü</p>'),
    'comment_and_doctype': '<!DOCTYPE html>\n<!-- pre -->' + _doc(
        '<!-- a\nb -->x<p>y<!--c-->z</p>'),
    'predefined_entities': _doc('<p title="&quot;&apos;&lt;">&amp;&gt;'
                                '&#65;&#x42;&#233;</p>'),
    'void_self_closed': _doc('<p>a<br/>b<img src="x" />c<br></br>d</p>',
                             head='<meta name="m" content="c"/>'),
    'body_only': '<html>\n<body><div class="x">y</div></body>\n</html>',
    'root_blank_text': '<html>\n \xa0<head><title>t</title></head>\n'
                       '<body><p>x</p></body>\n</html>',
    'tab_and_newline_in_text': _doc('<p>a\tb\nc</p>\n'),
}

FALLBACK = {
    'carriage_return': _doc('<p>a\r\nb</p>'),
    'script': _doc('<script type="t">a &amp; b</script>'),
    'cdata': _doc('<p><![CDATA[x<y]]>z</p>'),
    'doctype_internal_subset': '<!DOCTYPE html [<!ENTITY e "boom">]>'
                               + _doc('<p>&e;</p>'),
    'doctype_gt_in_literal': '<!DOCTYPE html SYSTEM "a>b">'
                             + _doc('<p>x</p>'),
    'processing_instruction': _doc('<?pi a>b?><p>x</p>'),
    'leading_pi': '<?xml-stylesheet href="a>b"?>' + _doc('<p>x</p>'),
    'pi_after_declaration': '<?xml version="1.0"?>'
                            + _doc('<?pi a>b?><p>x</p>'),
    'tab_in_attribute': _doc('<p title="a\tb">x</p>'),
    'newline_in_attribute': _doc('<p title="a\nb">x</p>'),
    'newline_between_attributes': _doc('<p class="c"\ntitle="a">x</p>'),
    'charref_c1': _doc('<p>a&#150;b</p>'),
    'charref_del': _doc('<p title="&#x7f;">x</p>'),
    'charref_nonchar': _doc('<p>&#xFDD0;&#x1FFFE;</p>'),
    'charref_newline': _doc('<p title="a&#10;b">x</p>'),
    'nbsp_undefined_entity': _doc('<p>a&nbsp;b</p>'),
    'bom': '\ufeff' + _doc('<p>x</p>'),
    'root_not_html': '<div><p>x</p></div>',
    'stray_root_element': '<html><title>t</title><body><p><head/>x</p>'
                          '</body></html>',
    'root_comment': _doc('<p>x</p>').replace('<body>', '<!-- c --><body>'),
    'root_text': '<html>x<body><p>y</p></body></html>',
    'text_after_head': _doc('<p>y</p>').replace('<body>', 'x<body>'),
    'nested_body': _doc('<div><body>x</body></div>'),
    'nested_html': _doc('<div><html>x</html></div>'),
    'self_closed_head': '<html><head/>\n<body><p>x</p></body></html>',
    'upper_tag': _doc('<DIV>x</DIV>'),
    'upper_attribute': _doc('<div CLASS="ocr_page">x</div>'),
    'tag_name_not_html': _doc('<p><_x/>y</p>'),
    'xml_lang_below_root': _doc('<p xml:lang="en">x</p>'),
    'p_closer_under_p': _doc('<p>a<span><div>b</div></span>c</p>'),
    'p_under_p': _doc('<p>a<p>b</p>c</p>'),
    'li_under_li': _doc('<ul><li>a<ul><li>b</li></ul>c</li></ul>'),
    'void_with_text': _doc('<p><br>x</br>y</p>'),
    'void_with_child': _doc('<p><img src="i"><b>x</b></img>y</p>'),
    'namespace_prefix': '<html xmlns:o="urn:o">'
                        '<body><o:p>x</o:p></body></html>',
    'xhtml_prefix': '<h:html xmlns:h="http://www.w3.org/1999/xhtml">'
                    '<h:body><h:p>x</h:p></h:body></h:html>',
    'other_default_namespace': '<html xmlns="urn:other"><body><p>x</p>'
                               '</body></html>',
    'xhtml_redeclared': _doc(
        '<div xmlns="http://www.w3.org/1999/xhtml">x</div>',
        html='<html xmlns="http://www.w3.org/1999/xhtml">'),
    'namespace_undeclared': _doc('<div xmlns="">x</div>'),
}


@pytest.mark.parametrize('doc', C_PATH.values(), ids=C_PATH.keys())
def test_c_path_equivalence(doc):
    assert htmldom._parse_xml(doc) is not None
    assert canon(htmldom.parse_html(doc)) == \
        canon(htmldom.parse_html(doc, fast=False))


@pytest.mark.parametrize('doc', FALLBACK.values(), ids=FALLBACK.keys())
def test_divergence_falls_back(doc):
    assert htmldom._parse_xml(doc) is None
    assert canon(htmldom.parse_html(doc)) == \
        canon(htmldom.parse_html(doc, fast=False))


def test_tesseract_document_takes_c_path():
    """The canonical page > carea > par > line > word document is built
    by expat (so the pins above cannot pass by always falling back), the
    XHTML namespace is gone from the tags and back on the root, and the
    extraction output is the fallback path's."""
    root = htmldom._parse_xml(TESSERACT)
    assert root is not None
    assert root.get('xmlns') == 'http://www.w3.org/1999/xhtml'
    assert root.get('xml:lang') == 'en'
    assert [c.tag for c in root] == ['head', 'body']
    words = [e for e in root.iter('span') if e.get('class') == 'ocrx_word']
    assert len(words) == 3
    fast = extract.extract_one(TESSERACT)
    with mock.patch.object(htmldom, '_parse_xml', lambda text: None):
        slow = extract.extract_one(TESSERACT)
    assert fast == slow
    assert fast['error'] is None and fast['dialect'] == 'tesseract'
    assert fast['pages'][0]['extracted_text'] == \
        'Tom & Jerry “caf\xe9”\na>b'


# -- robustness on both parse paths ---------------------------------------

HOCR_HEAD = ('<meta name="ocr-capabilities" '
             'content="ocr_page ocr_line ocrx_word"/>')


def _deep_spans(depth, closed):
    return _doc('<div class="ocr_page" title="bbox 0 0 100 100">'
                + '<span>' * depth + 'x'
                + ('</span>' * depth if closed else '') + '</div>',
                head=HOCR_HEAD)


@pytest.mark.parametrize('closed', [True, False], ids=['c_path', 'fallback'])
def test_deep_nesting_is_an_error_row(closed):
    """A 10^4-deep span nest yields an error row, never an escaping
    exception. The class pins today's ~330-level RecursionError of the
    recursive scan on both parse paths (a named depth limit would
    replace it)."""
    doc = _deep_spans(10 ** 4, closed)
    assert (htmldom._parse_xml(doc) is not None) == closed
    row = extract.extract_one(doc)
    assert row['pages'] is None
    assert row['error'].startswith('RecursionError:')


def test_hundred_thousand_words_on_c_path():
    n = 10 ** 5
    lines = ''.join(
        f'<span class="ocr_line" title="bbox 0 {i} 1000 {i + 1}">'
        + ' '.join(f'<span class="ocrx_word" title="bbox {j} {i} {j + 1} '
                   f'{i + 1}">w{j}</span>' for j in range(10))
        + '</span>\n' for i in range(n // 10))
    doc = _doc(f'<div class="ocr_page" title="bbox 0 0 1000 {n}">'
               + lines + '</div>', head=HOCR_HEAD)
    assert htmldom._parse_xml(doc) is not None
    row = extract.extract_one(doc, emit_spans='packed')
    assert row['error'] is None
    [page] = row['pages']
    assert len(page['extracted_text'].split()) == n
    assert page['spans_packed'].count('\x1e') == n - 1
