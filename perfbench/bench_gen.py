"""Seeded input generator for the benchmark, with expectations.

Every workload's input is generated here from ``words.txt`` (the
vocabulary of the driver's ``documents`` tables) and a seed. The
expected output of every turn is derived from the generation
parameters -- the zone tree the markup was rendered from -- and never
from the extraction kernel: ``Z`` below is the benchmark's own model
of a DjVu text zone, and its text / s-expression / span
serializations follow the documented output format (FIXTURES.md §2,
§4), not the kernel's code.

The same seed gives byte-identical parquet files and expectations.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
VOCAB = tuple(open(os.path.join(HERE, 'words.txt'), encoding='utf-8')
              .read().split())

# token decorations, applied to a few words: markup-special and
# sexpr-special characters plus non-ASCII letters, so escaping on both
# sides of the kernel is exercised
DECORATIONS = (
    str.capitalize,
    lambda w: w + ',',
    lambda w: w + '.',
    lambda w: f'"{w}"',
    lambda w: w + '&co',
    lambda w: f'<{w}>',
    lambda w: w + '\\x',
    lambda w: w + 'é',
    lambda w: 'ž' + w,
)

TRANSCRIPT_SCHEMA = pa.schema([
    ('conv_id', pa.string()),
    ('turn_idx', pa.int32()),
    ('role', pa.string()),
    ('text', pa.string()),
    ('tool', pa.string()),
    ('ts', pa.timestamp('us', tz='UTC')),
])
ROLES = ('user', 'assistant', 'tool')
TS0 = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
MALFORMED = 'MalformedHocr'

# grid geometry of the character-level dialects (one text line on a
# 5000x1000 page; char g of the line at x 10+10g .. 18+10g, y 20..40)
GRID_W, GRID_H = 5000, 1000


# ---------------------------------------------------------------------------
# expected zone model and its serializations
# ---------------------------------------------------------------------------

class Z:
    """One expected DjVu zone: kind, bottom-left bbox, and either a leaf
    string or a list of child zones."""

    __slots__ = ('kind', 'box', 'kids')

    def __init__(self, kind, box, kids):
        self.kind, self.box, self.kids = kind, box, kids


def flip(box, h):
    """hOCR top-left bbox -> DjVu bottom-left bbox on a page of height h."""
    x0, y0, x1, y1 = box
    return (x0, h - y1, x1, h - y0)


def union(boxes):
    boxes = list(boxes)
    return (min(b[0] for b in boxes), min(b[1] for b in boxes),
            max(b[2] for b in boxes), max(b[3] for b in boxes))


_MARKUP_SPECIAL = re.compile('[&<>"]')


def sexpr_escape(s: str) -> str:
    """DjVu sexpr string literal (the generator emits no control chars)."""
    return '"' + s.replace('\\', '\\\\').replace('"', '\\"') + '"'


def sexpr(z: Z) -> str:
    head = '({} {} {} {} {}'.format(z.kind, *z.box)
    if isinstance(z.kids, str):
        return f'{head} {sexpr_escape(z.kids)})'
    if not z.kids:
        return head + ' "")'
    return head + ' ' + ' '.join(sexpr(k) for k in z.kids) + ')'


def text(z: Z) -> str:
    """Words join with a space, lines and coarser zones with a newline."""
    if isinstance(z.kids, str):
        return z.kids
    sep = ' ' if all(k.kind == 'word' for k in z.kids) else '\n'
    return sep.join(text(k) for k in z.kids)


def words(z: Z):
    """Preorder word leaves as (x0, y0, x1, y1, word)."""
    if z.kind == 'word':
        return [(*z.box, z.kids)]
    return [w for k in z.kids for w in words(k)]


def spans(z: Z, depth=0, path=()):
    """Preorder (zone_type, depth, path, x0, y0, x1, y1, leaf text)."""
    leaf = z.kids if isinstance(z.kids, str) else None
    out = [(z.kind, depth, list(path), *z.box, leaf)]
    if leaf is None:
        for i, k in enumerate(z.kids):
            out.extend(spans(k, depth + 1, path + (i,)))
    return out


NULL_MARK = '\x00'


def words_canon(ws) -> str:
    return '\n'.join(f'{x0},{y0},{x1},{y1},{w}' for x0, y0, x1, y1, w in ws)


def spans_canon(ss) -> str:
    return '\n'.join(
        f'{k},{d},{".".join(map(str, p))},{x0},{y0},{x1},{y1},'
        f'{NULL_MARK if t is None else t}'
        for k, d, p, x0, y0, x1, y1, t in ss)


def md5(s: str) -> str:
    return hashlib.md5(s.encode('utf-8')).hexdigest()


# ---------------------------------------------------------------------------
# markup renderers (one per dialect family)
# ---------------------------------------------------------------------------

def esc(s: str) -> str:
    if not _MARKUP_SPECIAL.search(s):
        return s
    return (s.replace('&', '&amp;').replace('<', '&lt;')
            .replace('>', '&gt;').replace('"', '&quot;'))


def bbox_title(box) -> str:
    return 'bbox {} {} {} {}'.format(*box)


def render_nested(pages, tesseract: bool) -> str:
    """page > carea > par > line > word hOCR (Tesseract 3 layout).

    ``pages``: list of (w, h, careas); careas: list of paras; paras:
    list of lines; lines: list of (box, word) in hOCR coordinates.
    """
    head = ['<html><head>']
    if tesseract:
        head.append('<meta name="ocr-system" content="tesseract 3.02"/>')
    head.append('<meta name="ocr-capabilities" content="ocr_page '
                'ocr_carea ocr_par ocr_line ocrx_word"/></head><body>')
    out = head
    for pno, (w, h, careas) in enumerate(pages):
        out.append(f'<div class="ocr_page" id="page_{pno + 1}" '
                   f'title="bbox 0 0 {w} {h}; ppageno {pno}">')
        for careas_box, paras in careas:
            out.append(f'<div class="ocr_carea" '
                       f'title="{bbox_title(careas_box)}">')
            for par_box, lines in paras:
                out.append(f'<p class="ocr_par" '
                           f'title="{bbox_title(par_box)}">')
                for line_box, line in lines:
                    out.append(f'<span class="ocr_line" '
                               f'title="{bbox_title(line_box)}">')
                    out.append(' '.join(
                        f'<span class="ocrx_word" title="{bbox_title(b)}; '
                        f'x_wconf 91">{esc(t)}</span>' for b, t in line))
                    out.append('</span>\n')
                out.append('</p>')
            out.append('</div>')
        out.append('</div>')
    out.append('</body></html>')
    return ''.join(out)


def nested_page_zone(w, h, careas) -> Z:
    cols = []
    for careas_box, paras in careas:
        ps = []
        for par_box, lines in paras:
            ls = [Z('line', flip(lb, h),
                    [Z('word', flip(b, h), t) for b, t in line])
                  for lb, line in lines]
            ps.append(Z('para', flip(par_box, h), ls))
        cols.append(Z('column', flip(careas_box, h), ps))
    return Z('page', (0, 0, w, h), cols)


def layout_nested(rng, n_words, n_pages):
    """Lay ``n_words`` tokens out over pages of careas/paras/lines."""
    per_page = [n_words // n_pages + (i < n_words % n_pages)
                for i in range(n_pages)]
    pages = []
    for count in per_page:
        toks = [token(rng) for _ in range(count)]
        lines, i = [], 0
        while i < len(toks):
            k = rng.randint(6, 12)
            lines.append(toks[i:i + k])
            i += k
        # group lines into paras, paras into careas
        paras, i = [], 0
        while i < len(lines):
            k = rng.randint(3, 8)
            paras.append(lines[i:i + k])
            i += k
        careas, i = [], 0
        while i < len(paras):
            k = rng.randint(1, 4)
            careas.append(paras[i:i + k])
            i += k
        y = 40
        out_careas = []
        for ca in careas:
            out_paras = []
            for pa_ in ca:
                out_lines = []
                for ln in pa_:
                    boxes = [((60 + 100 * j, y, 150 + 100 * j, y + 40), t)
                             for j, t in enumerate(ln)]
                    out_lines.append((union(b for b, _ in boxes), boxes))
                    y += 50
                out_paras.append((union(lb for lb, _ in out_lines),
                                  out_lines))
                y += 30
            out_careas.append((union(pb for pb, _ in out_paras), out_paras))
            y += 60
        pages.append((1400, y + 40, out_careas))
    return pages


def render_flat(toks, page_origin=(0, 0), stray_text=False,
                boxless_word=None) -> tuple:
    """The transcripts.py shape: page > untitled line > words at a
    100-px pitch on an (n*100+100) x 1000 page. Returns (markup, page
    zone); the keyword arguments inject malformed variants."""
    n = len(toks)
    w, h = n * 100 + 100, 1000
    ws = []
    for i, t in enumerate(toks):
        box = (10 + 100 * i, 10, 100 + 100 * i, 60)
        title = '' if i == boxless_word else f' title="{bbox_title(box)}"'
        ws.append(f'<span class="ocr_word"{title}>{esc(t)}</span> ')
    markup = (
        '<html><head><meta name="ocr-capabilities" '
        'content="ocr_page ocr_line ocr_word"/></head><body>'
        f'<div class="ocr_page" title="bbox {page_origin[0]} '
        f'{page_origin[1]} {w} {h}">'
        + ('stray text ' if stray_text else '')
        + '<span class="ocr_line">' + ''.join(ws)
        + '</span></div></body></html>')
    word_zones = [Z('word', flip((10 + 100 * i, 10, 100 + 100 * i, 60), h), t)
                  for i, t in enumerate(toks)]
    page = Z('page', (0, 0, w, h),
             [Z('line', union(z.box for z in word_zones), word_zones)])
    return markup, page


def grid_words(toks):
    """(start, end) global char offsets of each token on the grid line."""
    out, g = [], 0
    for t in toks:
        out.append((g, g + len(t)))
        g += len(t) + 1
    return out


def grid_box(g0, g1):
    """hOCR box of chars [g0, g1) on the grid line."""
    return (10 + 10 * g0, 20, 18 + 10 * (g1 - 1), 40)


def grid_word_zones(toks):
    return [Z('word', flip(grid_box(a, b), GRID_H), t)
            for t, (a, b) in zip(toks, grid_words(toks))]


def render_cuneiform08(toks):
    """Cuneiform <= 0.8: no hOCR classes, one bare span per char; the
    page box comes from the external page size."""
    line = ' '.join(toks)
    cells = ''.join(
        ' ' if c == ' ' else
        f'<span title="{bbox_title(grid_box(g, g + 1))}">{esc(c)}</span>'
        for g, c in enumerate(line))
    markup = ('<html><head><title></title></head><body><p>' + cells
              + '</p></body></html>')
    wz = grid_word_zones(toks)
    page = Z('page', (0, 0, GRID_W, GRID_H),
             [Z('para', union(z.box for z in wz), wz)])
    return markup, page


def render_cuneiform09(toks, blank_char=None):
    """Cuneiform >= 0.9 ("openocr"): charboxes hidden in an ocr_cinfo
    x_bboxes title, whitespace boxed as -1 sentinels, one surplus
    trailing blank cell. ``blank_char`` sentinels a non-space char
    (malformed)."""
    line = ' '.join(toks)
    cells = []
    for g, c in enumerate(line + ' '):
        if c == ' ' or g == blank_char:
            cells.append('-1 -1 -1 -1')
        else:
            cells.append('{} {} {} {}'.format(*grid_box(g, g + 1)))
    lbox = grid_box(0, len(line))
    markup = (
        "<html><head><meta name='ocr-system' content='openocr'>"
        f'</head><body><div class="ocr_page" title="bbox 0 0 {GRID_W} '
        f'{GRID_H}"><p><span class="ocr_line" title="{bbox_title(lbox)}">'
        f'{esc(line)} <span class="ocr_cinfo" title="x_bboxes '
        + ' '.join(cells) + '"></span></span></p></div></body></html>')
    wz = grid_word_zones(toks)
    ub = union(z.box for z in wz)
    page = Z('page', (0, 0, GRID_W, GRID_H),
             [Z('para', ub, [Z('line', ub, wz)])])
    return markup, page


def render_tesseract_makebox(toks):
    """Tesseract word spans on the grid plus the makebox charbox script
    (read only at char detail; words detail must ignore it)."""
    line = ' '.join(toks)
    spans_ = ' '.join(
        f'<span class="ocr_word" title="{bbox_title(grid_box(a, b))}">'
        f'{esc(t)}</span>' for t, (a, b) in zip(toks, grid_words(toks)))
    cells = '\n'.join(
        f'{c} {10 + 10 * g} {GRID_H - 40} {18 + 10 * g} {GRID_H - 20} 0'
        for g, c in enumerate(line) if c != ' ')
    lbox = grid_box(0, len(line))
    markup = (
        "<html><head><meta name='ocr-system' content='tesseract 3.00'>"
        f'</head><body><div class="ocr_page" title="bbox 0 0 {GRID_W} '
        f'{GRID_H}"><span class="ocr_line" title="{bbox_title(lbox)}">'
        + spans_ + "</span></div><script type='application/"
        "x-ocrodjvu-tesseract'>" + esc(cells) + '</script></body></html>')
    wz = grid_word_zones(toks)
    page = Z('page', (0, 0, GRID_W, GRID_H),
             [Z('line', union(z.box for z in wz), wz)])
    return markup, page


def render_ocropus_bboxes(toks, extra_boxes=0):
    """OCRopus-style line with an inline per-char ``bboxes`` list and one
    spare box (silently dropped); ``extra_boxes`` > 0 adds more spare
    boxes, so the count matches the text in none of the accepted ways
    (malformed). Surplus boxes, not missing ones, so that a line of one
    or two chars is malformed too."""
    line = ' '.join(toks)
    cells = ['{} {} {} {}'.format(*grid_box(g, g + 1))
             for g in range(len(line))]
    cells += ['0 0 5 5'] * (1 + extra_boxes)
    lbox = grid_box(0, len(line))
    markup = (
        "<html><head><meta name='ocr-system' content='OCRopus 0.3.1'>"
        f'</head><body><div class="ocr_page" title="bbox 0 0 {GRID_W} '
        f'{GRID_H}"><span class="ocr_line" title="{bbox_title(lbox)}; '
        'bboxes ' + ', '.join(cells) + f'">{esc(line)}</span></div>'
        '</body></html>')
    wz = grid_word_zones(toks)
    page = Z('page', (0, 0, GRID_W, GRID_H),
             [Z('line', union(z.box for z in wz), wz)])
    return markup, page


# dialect families of short chat turns: (name, renderer, dialect name)
CHAT_FAMILIES = (
    ('hocr', lambda toks: render_flat(toks), 'hocr'),
    ('cuneiform0.8', render_cuneiform08, 'cuneiform0.8'),
    ('cuneiform0.9', render_cuneiform09, 'cuneiform0.9'),
    ('tesseract', render_tesseract_makebox, 'tesseract'),
    ('ocropus', render_ocropus_bboxes, 'hocr'),
)

# malformed rows (FIXTURES.md §2), each raising MalformedHocr in the
# reference: (case, renderer, dialect name)
MALFORMED_CASES = (
    # page bbox not starting at (0, 0): lib/hocr.py:248-249
    ('page_origin', lambda t: render_flat(t, page_origin=(5, 5)), 'hocr'),
    # plain text intermixed with structural elements: lib/hocr.py:282
    ('stray_text', lambda t: render_flat(t, stray_text=True), 'hocr'),
    # zone without bbox: lib/hocr.py:301,367
    ('boxless_word', lambda t: render_flat(t, boxless_word=0), 'hocr'),
    # bbox count != text length: lib/hocr.py:154
    ('bbox_count', lambda t: render_ocropus_bboxes(t, extra_boxes=2),
     'hocr'),
    # unboxed non-whitespace char under Cuneiform: lib/hocr.py:168-169
    ('blank_char', lambda t: render_cuneiform09(t, blank_char=0),
     'cuneiform0.9'),
)


MALFORMED_NAMES = frozenset(name for name, _, _ in MALFORMED_CASES)
# share of short chat turns that are malformed
MALFORMED_FRAC = 0.01


# ---------------------------------------------------------------------------
# workload generators
# ---------------------------------------------------------------------------

def token(rng) -> str:
    w = rng.choice(VOCAB)
    if rng.random() < 0.04:
        w = rng.choice(DECORATIONS)(w)
    return w


def sqrt_keys(i):
    """transcripts.py's skewed key map: conversation floor(sqrt(i)) holds
    1, 3, 5, ... turns."""
    r = math.isqrt(i)
    return f'conv-{r}', i - r * r + 1


# page serializations a workload's checker compares
PAGE_FIELDS = {
    'text': text,
    'sexpr': sexpr,
    'words': lambda p: words_canon(words(p)),
    'spans': lambda p: spans_canon(spans(p)),
}


class Turns:
    """Accumulates generated turns and their expectations; ``fields``
    names the PAGE_FIELDS serializations kept (as md5) per page."""

    def __init__(self, fields):
        self.rows = []
        self.expect = {}
        self.fields = fields

    def add(self, conv_id, turn_idx, markup, pages, dialect, error=None,
            family=None):
        role = ROLES[turn_idx % 3]
        self.rows.append({
            'conv_id': conv_id, 'turn_idx': turn_idx, 'role': role,
            'text': markup, 'tool': 'search' if role == 'tool' else None,
            'ts': TS0 + datetime.timedelta(seconds=len(self.rows)),
        })
        self.expect[f'{conv_id}\t{turn_idx}'] = {
            'dialect': dialect, 'error': error, 'family': family,
            'pages': [{f: md5(PAGE_FIELDS[f](p)) for f in self.fields}
                      for p in pages],
        }


def shuffled(rng, values):
    """A fixed multiset of per-turn parameters in a seeded order: every
    seed gets the same sizes and mix, so the work per pass does not
    vary with the seed; only the order and the words do."""
    values = list(values)
    rng.shuffle(values)
    return values


def gen_long_tool_turns(rng, n_turns):
    """Agent/tool-output turns of 300-3000 words (log-uniform quantiles),
    nested hOCR, one in five spanning 2-3 pages, half with a Tesseract
    ocr-system meta, 1-4 turns per conversation."""
    out = Turns(('text', 'sexpr', 'spans'))
    sizes = shuffled(rng, (int(300 * 10 ** ((i + 0.5) / n_turns))
                           for i in range(n_turns)))
    n_pages = shuffled(rng, ((1, 1, 1, 1, 2, 1, 1, 1, 1, 3)[i % 10]
                             for i in range(n_turns)))
    tesseract = shuffled(rng, (i % 2 == 0 for i in range(n_turns)))
    conv, left = 0, 0
    turn_idx = 0
    for i in range(n_turns):
        if left == 0:
            conv, left, turn_idx = conv + 1, rng.randint(1, 4), 0
        left -= 1
        turn_idx += 1
        pages = layout_nested(rng, sizes[i], n_pages[i])
        markup = render_nested(pages, tesseract[i])
        zones = [nested_page_zone(*p) for p in pages]
        out.add(f'tool-{conv}', turn_idx, markup, zones,
                'tesseract' if tesseract[i] else 'hocr', family='nested')
    return out


def gen_short_chat_turns(rng, n_turns):
    """1-30-word chat turns spread evenly over five dialect families,
    1% malformed rows, sqrt-skewed conversations, shuffled row order."""
    out = Turns(('text', 'sexpr', 'words', 'spans'))
    n_bad = round(n_turns * MALFORMED_FRAC)
    kinds = shuffled(rng, [MALFORMED_CASES[i % len(MALFORMED_CASES)]
                           for i in range(n_bad)]
                     + [CHAT_FAMILIES[i % len(CHAT_FAMILIES)]
                        for i in range(n_turns - n_bad)])
    sizes = shuffled(rng, (1 + i % 30 for i in range(n_turns)))
    for i in range(n_turns):
        conv_id, turn_idx = sqrt_keys(i)
        toks = [token(rng) for _ in range(sizes[i])]
        name, render, dialect = kinds[i]
        markup, page = render(toks)
        if name in MALFORMED_NAMES:
            out.add(conv_id, turn_idx, markup, [], dialect, MALFORMED,
                    family=name)
        else:
            out.add(conv_id, turn_idx, markup, [page], dialect, family=name)
    rng.shuffle(out.rows)
    return out


# ---------------------------------------------------------------------------
# workload table and the per-seed cache
# ---------------------------------------------------------------------------

# input rows per workload: a noop pass takes ~1.3 s at local[4] on the
# 4-core reference box
SIZES = {
    'long_tool_turns': 80,
    'short_chat_turns': 4000,
}
N_FILES = 8


def _sub_rng(seed, workload, part):
    key = f'{seed}:{workload}:{part}'.encode()
    return random.Random(int.from_bytes(hashlib.sha256(key).digest()[:8],
                                        'big'))


def generate(workload, seed, n_rows):
    """(table, expect) for one workload at one seed and size."""
    rng = _sub_rng(seed, workload, n_rows)
    gen = {
        'long_tool_turns': gen_long_tool_turns,
        'short_chat_turns': gen_short_chat_turns,
    }[workload]
    turns = gen(rng, n_rows)
    return (pa.Table.from_pylist(turns.rows, schema=TRANSCRIPT_SCHEMA),
            {'turns': turns.expect})


def _write(table, path, n_files):
    """Write ``table`` as ``n_files`` parquet files of equal markup bytes:
    rows are dealt to files largest first in snake order, each file
    keeping the seeded row order. Equal files make equal scan tasks, so
    a seed cannot put all of its longest turns into one straggler task."""
    os.makedirs(path)
    sizes = [len(t) for t in table.column('text').to_pylist()]
    files = [[] for _ in range(n_files)]
    order = sorted(range(len(sizes)), key=lambda i: -sizes[i])
    for k, i in enumerate(order):
        lap, pos = divmod(k, n_files)
        files[pos if lap % 2 == 0 else n_files - 1 - pos].append(i)
    for f, rows in enumerate(files):
        if rows:
            pq.write_table(table.take(sorted(rows)),
                           os.path.join(path, f'part-{f:03d}.parquet'))


def _generator_version() -> str:
    """Digest of this file and the vocabulary: a changed generator never
    reuses inputs cached by an older one."""
    h = hashlib.sha256()
    for name in (__file__, os.path.join(HERE, 'words.txt')):
        with open(name, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def materialize(workload, seed, cache_root):
    """Generate (or reuse) the input of one seed; returns a dict with its
    parquet path and size, and the expectations."""
    d = os.path.join(cache_root,
                     f'{workload}-s{seed}-{_generator_version()}')
    meta_path = os.path.join(d, 'meta.json')
    if not os.path.exists(meta_path):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + '.tmp'
        shutil.rmtree(tmp, ignore_errors=True)
        table, expect = generate(workload, seed, SIZES[workload])
        _write(table, os.path.join(tmp, 'main'), N_FILES)
        meta = {'main': {
            'rows': table.num_rows,
            'text_bytes': sum(len(t.encode('utf-8'))
                              for t in table.column('text').to_pylist()),
        }, 'expect': expect}
        with open(os.path.join(tmp, 'meta.json'), 'w') as fh:
            json.dump(meta, fh)
        os.rename(tmp, d)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta['main']['path'] = os.path.join(d, 'main')
    return meta
