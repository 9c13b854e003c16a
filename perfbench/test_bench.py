"""The benchmark's own tests (no Spark): python3 -m pytest perfbench -q"""

from __future__ import annotations

import collections
import filecmp
import json
import os

import pytest

import bench_gen
import bench_trace
import bench_workloads as W
import run

SMALL = {'long_tool_turns': 6, 'short_chat_turns': 600}


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setattr(bench_gen, 'SIZES', SMALL)


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize('workload', sorted(SMALL))
def test_same_seed_gives_identical_inputs(tmp_path, small_sizes, workload):
    a = bench_gen.materialize(workload, 7, str(tmp_path / 'a'))
    b = bench_gen.materialize(workload, 7, str(tmp_path / 'b'))
    da = os.path.dirname(a['main']['path'])
    db = os.path.dirname(b['main']['path'])
    assert _files(da) == _files(db)
    for f in _files(da):
        assert filecmp.cmp(os.path.join(da, f), os.path.join(db, f),
                           shallow=False), f


def _family_mix(meta):
    fams = collections.Counter(e['family'] if e['error'] is None else 'bad'
                               for e in meta['expect']['turns'].values())
    n = sum(fams.values())
    return {k: v / n for k, v in fams.items()}


@pytest.mark.parametrize('workload', sorted(SMALL))
def test_other_seed_changes_rows_not_shape(tmp_path, small_sizes, workload):
    import pyarrow.parquet as pq
    a = bench_gen.materialize(workload, 1, str(tmp_path))
    b = bench_gen.materialize(workload, 2, str(tmp_path))
    assert a['main']['rows'] == b['main']['rows'] == SMALL[workload]
    ta = pq.read_table(a['main']['path']).column('text').to_pylist()
    tb = pq.read_table(b['main']['path']).column('text').to_pylist()
    assert set(ta) != set(tb)
    assert _family_mix(a) == _family_mix(b)
    assert sorted(map(len, ta)) != sorted(map(len, tb))  # words differ
    assert abs(sum(map(len, ta)) / sum(map(len, tb)) - 1) < 0.05


def test_metric_names_match_benchmark_json():
    with open(os.path.join(run.ROOT, 'BENCHMARK.json')) as fh:
        spec = json.load(fh)
    e2e = {m['name']: m['unit'] for m in spec['end_to_end']}
    layers = {m['name']: m['unit'] for m in spec['per_layer']}
    assert e2e == run.E2E_UNITS
    assert layers == bench_trace.LAYER_UNITS
    assert [w['name'] for w in spec['workloads']] == list(run.WORKLOADS)
    assert e2e['setup_s'] == 's'


def _correct_rows(expect, fields):
    rows = []
    for key, e in expect.items():
        conv_id, turn_idx = key.split('\t')
        if e['error']:
            rows.append({'conv_id': conv_id, 'turn_idx': int(turn_idx),
                         'page_idx': None, 'dialect': e['dialect'],
                         'error': e['error'] + ': boom',
                         **{f'h_{f}': 'NULL' for f in fields}})
        for i, p in enumerate(e['pages']):
            rows.append({'conv_id': conv_id, 'turn_idx': int(turn_idx),
                         'page_idx': i, 'dialect': e['dialect'],
                         'error': None,
                         **{f'h_{f}': p[f] for f in fields}})
    return rows


def test_checker_flags_corrupted_output(tmp_path, small_sizes):
    meta = bench_gen.materialize('short_chat_turns', 3, str(tmp_path))
    expect = meta['expect']['turns']
    fields = ('text', 'sexpr', 'words')
    rows = _correct_rows(expect, fields)

    clean = W.Tally(len(expect))
    W.check_turns(clean, expect, rows, fields)
    assert not clean.failed

    ok = [r for r in rows if r['error'] is None]
    bad_err = next(r for r in rows if r['error'] is not None)
    corrupt = [dict(r) for r in rows]
    corrupt[rows.index(ok[0])]['h_words'] = bench_gen.md5('wrong')
    corrupt[rows.index(ok[1])]['error'] = 'ValueError: surprise'
    corrupt[rows.index(bad_err)]['error'] = None
    del corrupt[rows.index(ok[2])]
    corrupt.append(dict(ok[3], conv_id='conv-none'))
    tally = W.Tally(len(expect))
    W.check_turns(tally, expect, corrupt, fields)
    assert len(tally.failed) == 5
    assert len(tally.failed) / tally.attempted > 0


def test_expected_sexpr_format():
    _, page = bench_gen.render_flat(['a"b', 'c\\d'])
    assert bench_gen.sexpr(page) == (
        '(page 0 0 300 1000 (line 10 940 200 990 '
        '(word 10 940 100 990 "a\\"b") (word 110 940 200 990 "c\\\\d")))')
    assert bench_gen.text(page) == 'a"b c\\d'
    empty = bench_gen.Z('page', (0, 0, 5, 5), [])
    assert bench_gen.sexpr(empty) == '(page 0 0 5 5 "")'


@pytest.mark.parametrize('toks', [['a'], ['A'], ['a,'], ['a', 'a'],
                                  ['table', 'scan']])
def test_malformed_box_count_on_short_lines(toks):
    """A line keeps its text length in boxes, plus one spare OCRopus box
    at most; the malformed row must fall outside both, however short."""
    render = dict((n, r) for n, r, _ in bench_gen.MALFORMED_CASES)
    markup, _ = render['bbox_count'](toks)
    boxes = markup.split('bboxes ', 1)[1].split('"', 1)[0].split(', ')
    n_chars = len(' '.join(toks))
    assert len(boxes) not in (n_chars, n_chars + 1)
    well_formed, _ = bench_gen.render_ocropus_bboxes(toks)
    assert well_formed.count(', ') + 1 == n_chars + 1


def test_tracer_self_time():
    tr = bench_trace.Tracer('t')
    with tr.span('outer') as outer:
        with tr.span('inner') as inner:
            pass
    st = tr.self_times()
    d_outer = outer['end'] - outer['start']
    d_inner = inner['end'] - inner['start']
    assert st['inner'] == pytest.approx(d_inner)
    assert st['outer'] == pytest.approx(d_outer - d_inner)
    assert all(s['run_id'] == 't' for s in tr.spans)
    assert tr.spans[1]['parent'] == 0
