"""Lenient HTML -> element-tree parser built on the stdlib.

Produces ``xml.etree.ElementTree`` elements with lxml-compatible accessors
used by the scan kernel (``text``/``tail``/iteration/``get``).
``parse_html`` picks one of three paths from the input alone:

1. well-formed XML -- what Tesseract and most hOCR writers emit -- is
   parsed by expat into the C TreeBuilder, with no Python per token. The
   tree is kept only when guards prove it is the tree ``_TreeBuilder``
   would build: each guard rules out one recovery rule below or one
   place where XML decodes text differently from HTML (see
   ``_parse_xml``);
2. everything else goes through a regex tokenizer (``_fast_feed``)
   feeding ``_TreeBuilder``;
3. if that tokenizer raises, the stdlib html.parser feeds the same
   builder.

``_TreeBuilder`` reproduces the libxml2 recovery behaviors the hOCR
corpus depends on:

* void elements (meta, img, br, ...) never take children;
* a block-level start tag (p, h1-h6, div, ul, table, ...) implicitly
  closes an open ``<p>`` — this is why a stray ``<h3>`` inside
  ``<p class=ocr_par>`` splits the paragraph in the OCRopus fixtures
  (reference evidence: ocrodjvu tests/hocr2djvused/alice_ocropus0.3.1.html
  vs its .test1 golden, where the first five lines are emitted as direct
  page children);
* unmatched end tags are ignored; end tags close intermediate open
  elements up to the nearest match;
* ``<script>`` content is kept verbatim as the element's text (needed for
  the Tesseract ``makebox`` charbox sidecar);
* comments are preserved as non-string-tag nodes so their tails still
  contribute text, matching lxml iteration semantics.

Tag and attribute names are lowercased; character references are decoded
outside CDATA content.
"""

from __future__ import annotations

import html
import html.parser
import operator
import re
import xml.etree.ElementTree as ET

VOID_ELEMENTS = frozenset((
    'area', 'base', 'basefont', 'br', 'col', 'embed', 'frame', 'hr', 'img',
    'input', 'isindex', 'link', 'meta', 'param', 'source', 'track', 'wbr',
))

# start tags that implicitly close an open <p> (HTML4 block-level content
# not allowed inside a paragraph)
_P_CLOSERS = frozenset((
    'address', 'article', 'aside', 'blockquote', 'details', 'div', 'dl',
    'fieldset', 'figcaption', 'figure', 'footer', 'form',
    'h1', 'h2', 'h3', 'h4', 'h5', 'h6', 'header', 'hr', 'main', 'menu',
    'nav', 'ol', 'p', 'pre', 'section', 'table', 'ul',
))

# elements whose start tag implies closing same-name ancestors
_SELF_NESTING_CLOSERS = frozenset(('li', 'td', 'th', 'tr', 'option'))

_STRUCTURE = ('html', 'head', 'body')

# one-probe tag classification for the builder hot path (replaces three
# frozenset membership tests per start tag): bit 1 = implied-close
# trigger, bit 2 = head/body singleton, bit 4 = void element
_F_IMPLIED = 1
_F_SECTION = 2
_F_VOID = 4
_TAG_FLAGS = {}
for _t in _P_CLOSERS | _SELF_NESTING_CLOSERS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_IMPLIED
for _t in ('head', 'body'):
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SECTION
for _t in VOID_ELEMENTS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_VOID
del _t


class _TreeBuilder(html.parser.HTMLParser):

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = ET.Element('html')
        self._stack = [self.root]
        self._last: ET.Element | None = None  # for tail attribution

    # -- helpers ----------------------------------------------------------

    def _top(self) -> ET.Element:
        return self._stack[-1]

    def _open_names(self):
        return [e.tag for e in self._stack if isinstance(e.tag, str)]

    def _append(self, elem: ET.Element):
        self._top().append(elem)

    def _add_text(self, data: str):
        top = self._top()
        if len(top):
            last = top[-1]
            last.tail = (last.tail or '') + data
        else:
            top.text = (top.text or '') + data

    def _implied_close(self, tag: str):
        if tag in _P_CLOSERS and any(
                e.tag == 'p' for e in self._stack):
            # close up to and including the innermost <p>, but never cross
            # structural containers
            for elem in reversed(self._stack[1:]):
                if elem.tag in _STRUCTURE:
                    break
                if elem.tag == 'p':
                    while self._stack[-1] is not elem:
                        self._stack.pop()
                    self._stack.pop()
                    break
        if tag in _SELF_NESTING_CLOSERS:
            for elem in reversed(self._stack[1:]):
                if elem.tag in _STRUCTURE:
                    break
                if elem.tag == tag:
                    while self._stack[-1] is not elem:
                        self._stack.pop()
                    self._stack.pop()
                    break

    # -- parser callbacks --------------------------------------------------

    def handle_starttag(self, tag, attrs):
        # ``attrs``: (k, v) list from html.parser, or a prebuilt
        # lowercased first-wins dict from the fast tokenizer (shared,
        # never mutated here)
        if not tag.islower():
            tag = tag.lower()
        flags = _TAG_FLAGS.get(tag, 0)
        if tag == 'html':
            # merge attributes into the synthetic root
            pairs = attrs.items() if type(attrs) is dict else attrs
            for k, v in pairs:
                if k and self.root.get(k) is None:
                    self.root.set(k.lower(), v if v is not None else '')
            return
        if flags & _F_IMPLIED:
            self._implied_close(tag)
        if flags & _F_SECTION:
            # singleton structural elements directly under the root
            for child in self.root:
                if child.tag == tag:
                    self._stack = [self.root, child]
                    return
            elem = ET.SubElement(self.root, tag)
            pairs = attrs.items() if type(attrs) is dict else attrs
            for k, v in pairs:
                if k:
                    elem.set(k.lower(), v if v is not None else '')
            self._stack = [self.root, elem]
            return
        if type(attrs) is dict:
            # C-level dict copy into the new element
            elem = ET.Element(tag, attrs) if attrs else ET.Element(tag)
        else:
            elem = ET.Element(tag)
            if attrs:
                # html.parser hands over lowercased attr names, so
                # write the attrib dict directly — first-wins like
                # get/set did
                attrib = elem.attrib
                for k, v in attrs:
                    if k and k not in attrib:
                        attrib[k] = v if v is not None else ''
        if self._stack[-1] is self.root:
            self._ensure_container(tag)  # may replace self._stack
        stack = self._stack
        stack[-1].append(elem)
        if not flags & _F_VOID:
            stack.append(elem)

    def _ensure_container(self, tag: str):
        """Put stray content under head or body like a recovering parser."""
        if self._top() is self.root:
            section = 'head' if tag in (
                'title', 'meta', 'link', 'style', 'base') else 'body'
            self.handle_starttag(section, [])

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        if tag in VOID_ELEMENTS or tag not in ('html', 'head', 'body'):
            self.handle_starttag(tag, attrs)
            if tag not in VOID_ELEMENTS:
                self.handle_endtag(tag)
        else:
            self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if not tag.islower():
            tag = tag.lower()
        if tag == 'html':
            return
        stack = self._stack
        if len(stack) > 1 and stack[-1].tag == tag:
            stack.pop()  # dominant case: well-nested close of the top
            return
        for i in range(len(stack) - 2, 0, -1):
            if stack[i].tag == tag:
                del stack[i:]
                return
        # unmatched end tag: ignore

    def handle_data(self, data):
        if not data:
            return
        top = self._stack[-1]
        if top is self.root:
            if data.isspace():
                return
            self._ensure_container('span')
            top = self._stack[-1]
        # inlined _add_text (hot path: one call per text/tail chunk)
        if len(top):
            last = top[-1]
            last.tail = (last.tail or '') + data
        else:
            top.text = (top.text or '') + data

    def handle_comment(self, data):
        if self._top() is self.root:
            return
        comment = ET.Comment(data)
        self._append(comment)

    def handle_decl(self, decl):
        pass

    def handle_pi(self, data):
        pass

    def unknown_decl(self, data):
        pass


_NAME_RE = re.compile(r'[a-zA-Z][-a-zA-Z0-9:._]*')
# one-shot end-tag matcher for the common well-formed case; anything
# with junk between the name and '>' falls back to the two-step
# NAME-match + find('>') path with identical semantics
_ENDTAG_RE = re.compile(r'</([a-zA-Z][-a-zA-Z0-9:._]*)\s*>')
_ATTR_RE = re.compile(
    r'\s*([^\s=/>]+)(?:\s*=\s*("[^"]*"|\'[^\']*\'|[^\s>]*))?')
# CDATA ends only at an end tag whose NAME is exactly 'script'
# ('</scripting>' stays script text) — matching html.parser's
# parse_endtag check against self.cdata_elem
_SCRIPT_END_RE = re.compile(r'</script(?![-a-zA-Z0-9:._])', re.IGNORECASE)

# one-shot tag-end finder for the common well-formed case: name +
# attribute run + optional '/'. The attr sub-grammar only admits quoted
# values WITHOUT '<'/'>' inside and unquoted values without quotes, so
# on a hit the '>' found here is the same character the careful
# _find_tag_end scan would find; the attr segment itself is then parsed
# by the shared _emit_starttag, so the two paths agree by construction.
# Every miss (stray quotes, angle brackets
# in values, end tags, comments) falls through to the character-exact
# path below.
_STARTTAG_RE = re.compile(
    r'<([a-zA-Z][-a-zA-Z0-9:._]*)'
    r'((?:\s+[^\s=/>]+(?:\s*=\s*(?:"[^"<>]*"|\'[^\'<>]*\'|[^\s>"\']*))?)*'
    r'\s*/?)>')


def _find_tag_end(text: str, pos: int) -> int:
    """Index of the tag-closing '>' from ``pos``, or -1 if unterminated.

    '>' inside a quoted attribute value does not close the tag, but a
    quote counts as opening a value only immediately after '=' (plus
    whitespace) — matching html.parser, so a stray quote inside an
    *unquoted* value (title=don't) stays a plain character.
    """
    n = len(text)
    while pos < n:
        c = text[pos]
        if c == '>':
            return pos
        if c == '=':
            pos += 1
            while pos < n and text[pos] in ' \t\r\n':
                pos += 1
            if pos < n and (text[pos] == '"' or text[pos] == "'"):
                end = text.find(text[pos], pos + 1)
                if end < 0:
                    return -1
                pos = end + 1
            continue
        pos += 1
    return -1


_unescape = html.unescape

# memo for parsed attribute segments: the parse is a pure function of
# the segment text, and real markup repeats segments heavily (constant
# class attributes, regular title grids). A miss costs one dict probe
# on top of the parse; the table is cleared when full so memory stays
# bounded on high-entropy corpora.
_ATTR_CACHE: dict = {}
_ATTR_CACHE_MAX = 8192


def _parse_attrs(attr_text: str):
    """Attr segment -> (first-wins attr dict, self_closing), memoized.

    Self-closing matches html.parser/HTML5: the tag is self-closed only
    when a bare '/' remains AFTER attribute parsing — in '<p a=1/>' the
    slash is part of the unquoted value (open <p> with a='1/'), while
    '<p a="1"/>', '<p a=1 />' and '<br/>' self-close.

    The dict applies the same first-wins duplicate rule as the
    builder's (k, v)-list path; the builder copies it C-side via
    ``ET.Element(tag, dict)``. Callers must not mutate it.
    """
    cached = _ATTR_CACHE.get(attr_text)
    if cached is not None:
        return cached
    attrs = {}
    last_end = 0
    if attr_text and not attr_text.isspace():
        for am in _ATTR_RE.finditer(attr_text):
            k = am.group(1)
            v = am.group(2)
            if v is None:
                v = ''
            elif v[:1] in ('"', "'") and v[-1:] == v[:1]:
                v = v[1:-1]
            if '&' in v:
                v = _unescape(v)
            k = k.lower()
            if k not in attrs:
                attrs[k] = v
            last_end = am.end()
    result = (attrs, attr_text[last_end:].strip() == '/')
    if len(_ATTR_CACHE) >= _ATTR_CACHE_MAX:
        _ATTR_CACHE.clear()
    _ATTR_CACHE[attr_text] = result
    return result


def _fast_feed(builder: '_TreeBuilder', text: str) -> None:
    """Regex tokenizer emitting the same builder callbacks as
    html.parser — identical DOM recovery semantics, ~2-3x faster on the
    extraction hot path. Falls back is handled by the caller."""
    unescape = _unescape
    n = len(text)
    pos = 0
    find = text.find
    match_starttag = _STARTTAG_RE.match
    handle_data = builder.handle_data
    handle_starttag = builder.handle_starttag
    while pos < n:
        lt = find('<', pos)
        if lt < 0:
            chunk = text[pos:]
            handle_data(unescape(chunk) if '&' in chunk else chunk)
            break
        if lt > pos:
            chunk = text[pos:lt]
            handle_data(unescape(chunk) if '&' in chunk else chunk)
        m = match_starttag(text, lt)
        if m is not None:
            # fast path: tag end found in one C-side match; the attr
            # segment then goes through the IDENTICAL logic as the slow
            # path below, so the paths cannot diverge on e.g. 'a=x/>'
            name = m.group(1)
            if not name.islower():
                name = name.lower()
            attrs, selfclose = _parse_attrs(m.group(2))
            pos = m.end()
            if selfclose:
                builder.handle_startendtag(name, attrs)
            else:
                handle_starttag(name, attrs)
                if name == 'script':
                    pos = _consume_script(builder, text, pos, n)
            continue
        nxt = text[lt + 1] if lt + 1 < n else ''
        if nxt == '!' or nxt == '?':
            if text.startswith('<!--', lt):
                end = find('-->', lt + 4)
                if end < 0:
                    builder.handle_comment(text[lt + 4:])
                    break
                builder.handle_comment(text[lt + 4:end])
                pos = end + 3
                continue
            end = find('>', lt)
            pos = n if end < 0 else end + 1
            continue
        if nxt == '/':
            m = _ENDTAG_RE.match(text, lt)
            if m is not None:
                builder.handle_endtag(m.group(1))
                pos = m.end()
                continue
            m = _NAME_RE.match(text, lt + 2)
            end = find('>', lt)
            if m and end >= 0:
                builder.handle_endtag(m.group(0).lower())
                pos = end + 1
            else:
                handle_data('<')
                pos = lt + 1
            continue
        m = _NAME_RE.match(text, lt + 1)
        if not m:
            handle_data('<')
            pos = lt + 1
            continue
        name = m.group(0)
        end = _find_tag_end(text, m.end())
        if end < 0:
            pos = n  # unterminated tag: drop the rest (libxml2-like)
            continue
        pos = _emit_starttag(
            builder, name, text[m.end():end], text, end + 1, n)


def _consume_script(builder: '_TreeBuilder', text: str, pos: int,
                    n: int) -> int:
    """Consume <script> CDATA after its start tag; returns resume pos."""
    sm = _SCRIPT_END_RE.search(text, pos)
    if sm is None:
        builder.handle_data(text[pos:])
        builder.handle_endtag('script')
        return n
    builder.handle_data(text[pos:sm.start()])
    gt = text.find('>', sm.end())
    builder.handle_endtag('script')
    return n if gt < 0 else gt + 1


def _emit_starttag(builder: '_TreeBuilder', name: str, attr_text: str,
                   text: str, pos: int, n: int) -> int:
    """Start-tag emission for the careful tokenizer path: parse the
    attr segment, fire the builder callback, and consume <script>
    CDATA. Returns the resume position (``n`` ends the feed loop)."""
    if not name.islower():
        name = name.lower()
    attrs, selfclose = _parse_attrs(attr_text)
    if selfclose:
        builder.handle_startendtag(name, attrs)
        return pos
    builder.handle_starttag(name, attrs)
    if name != 'script':
        return pos
    return _consume_script(builder, text, pos, n)


_XHTML = '{http://www.w3.org/1999/xhtml}'
_XML_LANG = '{http://www.w3.org/XML/1998/namespace}lang'
_XML_DECL_RE = re.compile(r'<\?xml\s[^>]*\?>')
# DOCTYPE without an internal subset: a '[' matches no alternative
_DOCTYPE_RE = re.compile(r'<!DOCTYPE(?:[^\[>"\']|"[^"]*"|\'[^\']*\')*>')
_CHARREF_RE = re.compile(r'&#([xX][0-9a-fA-F]+|[0-9]+);')
_TAG_NAME_OK = re.compile(r'[a-z][-a-z0-9._]*').fullmatch
_ATTR_NAME_OK = re.compile(r'[-a-z0-9._:]+').fullmatch
_TAG = operator.attrgetter('tag')
_ATTRIB = operator.attrgetter('attrib')


def _charrefs_agree(text: str) -> bool:
    """False if some numeric character reference decodes differently
    under html.unescape (cp1252 remap of 0x80-0x9F, dropped 0x7F and
    noncharacters) than under XML's chr(), or is a tab/newline (which
    would defeat the attribute-whitespace count in ``_parse_xml``)."""
    for m in _CHARREF_RE.finditer(text):
        ref = m.group(1)
        if len(ref) > 12:
            return False  # no int() on absurd digit runs
        n = int(ref[1:], 16) if ref[0] in 'xX' else int(ref)
        if (n == 9 or n == 10 or 0x7F <= n <= 0x9F
                or 0xFDD0 <= n <= 0xFDEF or n & 0xFFFE == 0xFFFE):
            return False
    return True


def _declarations_ok(text: str) -> bool:
    """Raw-text guards for markup the XML parser reads differently.

    Rejects any processing instruction other than a leading XML
    declaration (``_fast_feed`` ends a PI at its first '>'), CDATA
    sections (merged into text by XML, skipped by the tokenizers), and
    a DOCTYPE with an internal subset (expat would apply its ENTITY and
    ATTLIST declarations; rejecting it also rules out entity expansion)
    or with a '>' inside a quoted literal (the tokenizers end the
    declaration there).
    """
    pos = text.find('<?')
    if pos == 0:
        m = _XML_DECL_RE.match(text)
        if m is None:
            return False
        pos = text.find('<?', m.end())
    if pos >= 0:
        return False
    pos = text.find('<!')
    while pos >= 0:
        if text.startswith('<!--', pos):
            end = text.find('-->', pos + 4)
            if end < 0:
                return False
            pos = text.find('<!', end + 3)
            continue
        m = _DOCTYPE_RE.match(text, pos)
        if m is None or m.group().count('>') != 1:
            return False  # CDATA, internal subset, '>' in a literal
        pos = text.find('<!', m.end())
    return True


def _parse_xml(text: str):
    """The C path: expat + the C TreeBuilder, or None to fall back.

    The tree is returned only when it is provably the tree
    ``_TreeBuilder`` builds from the same text. Each guard below rules
    out one of its recovery rules or one XML-vs-HTML decoding
    difference; anything else (including every ParseError) returns
    None and the caller tokenizes in Python as before.
    """
    # -- raw text, before parsing --------------------------------------
    # XML folds \r\n to \n; a BOM is swallowed by expat but is stray
    # root-level text (a synthetic <body>) to _TreeBuilder
    if '\r' in text or text[:1] == '\ufeff':
        return None
    if not _declarations_ok(text):
        return None
    if '&#' in text and not _charrefs_agree(text):
        return None
    xmlns = text.find('xmlns')
    if xmlns >= 0 and (text[xmlns + 5:xmlns + 6] == ':'
                       or text.find('xmlns', xmlns + 5) >= 0):
        return None  # a prefix, or more than one namespace declaration
    try:
        data = text.encode('utf-8')
        # encoding= overrides any encoding= in the XML declaration: the
        # text is already decoded
        parser = ET.XMLParser(target=ET.TreeBuilder(insert_comments=True),
                              encoding='utf-8')
        parser.feed(data)
        root = parser.close()
    except Exception:  # ParseError, surrogates, ...
        return None

    # -- the parsed tree -------------------------------------------------
    # (whole-tree checks run as C-level maps over one element list; a
    # Python loop per element would cost as much as the parse)
    elements = list(root.iter())
    if root.tag == _XHTML + 'html':
        # the single declaration is Tesseract's root-level XHTML
        # default namespace: strip it from every tag and restore the
        # attributes html.parser would have kept
        cut = len(_XHTML)
        for e in elements:
            tag = e.tag
            if tag.__class__ is str and tag.startswith(_XHTML):
                e.tag = tag[cut:]
        attrib = {'xmlns': _XHTML[1:-1]}
        for k, v in root.attrib.items():
            attrib['xml:lang' if k == _XML_LANG else k] = v
        root.attrib = attrib
    elif root.tag != 'html' or xmlns >= 0:
        return None
    # a tab or newline inside a quoted attribute value is folded to a
    # space by XML: require every raw one inside the root element to
    # survive as text (a newline between attributes falls back too)
    inner = ''.join(root.itertext())
    start, end = text.find('<html'), text.rfind('>') + 1
    if (inner.count('\n') != text.count('\n', start, end)
            or ('\t' in text
                and inner.count('\t') != text.count('\t', start, end))):
        return None
    tags = list(map(_TAG, elements))
    names = set(tags)
    names.discard(ET.Comment)
    sections = [child.tag for child in root]
    if (sections not in (['head', 'body'], ['head'], ['body'], [])
            or tags.count('html') != 1
            or tags.count('head') + tags.count('body') != len(sections)
            or 'script' in names
            or not all(map(_TAG_NAME_OK, names))
            or not all(map(_ATTR_NAME_OK,
                           set().union(*map(_ATTRIB, elements))))):
        return None
    # _TreeBuilder keeps a self-closed <head/>/<body/> open, and drops
    # blank text at the root (non-blank text opens a synthetic <body>)
    if root.text is not None:
        if not root.text.isspace():
            return None
        root.text = None
    for section in root:
        if not len(section) and section.text is None:
            return None
        if section.tail is not None:
            if not section.tail.isspace():
                return None
            section.tail = None
    # the implied-close and void-element recovery rules never fire
    if 'p' in names:
        for tag in _P_CLOSERS.intersection(names):
            if root.find('.//p//' + tag) is not None:
                return None
    for tag in _SELF_NESTING_CLOSERS.intersection(names):
        if root.find(f'.//{tag}//{tag}') is not None:
            return None
    for tag in VOID_ELEMENTS.intersection(names):
        for e in root.iter(tag):
            if e.text is not None or len(e):
                return None
    return root


def parse_html(text: str, fast: bool = True) -> ET.Element:
    """Parse (possibly malformed) HTML text into an element tree root.

    ``fast=True`` chooses among three paths, from the input alone:

    1. well-formed XML whose tree provably equals ``_TreeBuilder``'s
       (see ``_parse_xml`` for the guards) is built by expat and the C
       TreeBuilder;
    2. anything else goes through the regex tokenizer (same builder,
       same recovery rules);
    3. any tokenizer error falls back to the stdlib html.parser.

    ``fast=False`` takes path 3 only. Equivalence of the paths is
    pinned by tests/test_htmldom_fast.py and tests/test_property.py.
    """
    if fast:
        root = _parse_xml(text)
        if root is not None:
            return root
        builder = _TreeBuilder()
        try:
            _fast_feed(builder, text)
            return builder.root
        except Exception:
            pass  # fall back to the stdlib tokenizer
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root


def find_meta(root: ET.Element, name: str):
    """Equivalent of lxml doc.find('/head/meta[@name=...]')."""
    head = root.find('head')
    if head is None:
        return None
    for meta in head.iter('meta'):
        if meta.get('name') == name:
            return meta
    return None


def find_script(root: ET.Element, type_: str):
    """Equivalent of doc.find('//script[@type=...]')."""
    for script in root.iter('script'):
        if script.get('type') == type_:
            return script
    return None
