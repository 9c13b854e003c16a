"""The workloads: their queries, timed passes and output checks.

Each workload reads only the tables ``bench_gen`` wrote and checks the
program's output against the generator's expectations. The textops
gates, timed in the traced run, are checked against the repository's
DuckDB oracle SQL over the same documents table.
"""

from __future__ import annotations

import collections
import glob
import math
import os

import bench_gen
import bench_spark as S

# extraction configuration (the query) of each workload
MODES = {
    'long_tool_turns': {'emit_spans': False},
    # page_size is the external --page-size the Cuneiform 0.8 rows need;
    # pages that carry their own bbox ignore it
    'short_chat_turns': {'emit_spans': 'words',
                         'page_size': (bench_gen.GRID_W, bench_gen.GRID_H)},
}
# the deployed resumable job's configuration (tools/run_pipeline.py):
# full span structs + sexpr, salted, bucket-partitioned with a sidecar
DEPLOYED_MODE = {'emit_spans': True,
                 'page_size': MODES['short_chat_turns']['page_size']}
N_BUCKETS = 16
SALT_BUCKETS = 8
DEDUP_GATES = ('dedup_minhash_lsh', 'dedup_simhash_pairs', 'cms_counts',
               'quality_buckets')


def read(spark, path):
    """A parquet directory, or a list of parquet files."""
    return spark.read.parquet(*([path] if isinstance(path, str) else path))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def long_tool_query(spark, path):
    from ocrodjvu_spark import pipeline
    return (pipeline.extract_turns(read(spark, path),
                                   **MODES['long_tool_turns'])
            .select('conv_id', 'turn_idx', 'page_idx', 'dialect', 'error',
                    'extracted_text', 'extracted_sexpr'))


def short_chat_query(spark, path):
    from ocrodjvu_spark import pipeline
    return pipeline.word_spans(pipeline.extract_turns(
        read(spark, path), **MODES['short_chat_turns']))


def run_extraction(spark, path, out, side, **kw):
    from ocrodjvu_spark.plans import checkpoint
    return checkpoint.run_extraction(
        spark, read(spark, path), out, side, n_buckets=N_BUCKETS,
        salt_buckets=SALT_BUCKETS, **DEPLOYED_MODE, **kw)


def dedup_frames(spark, gen_dir):
    import __spark_entry__ as entry
    qs = entry.queries()
    return {g: qs[g](spark, gen_dir) for g in DEDUP_GATES}


def make_pass(workload, spark, path):
    """A callable running one timed pass over ``path``; returns seconds."""
    if workload == 'long_tool_turns':
        df = long_tool_query(spark, path)
        return lambda: S.noop(df)
    if workload == 'short_chat_turns':
        df = short_chat_query(spark, path)
        return lambda: S.noop(df)
    raise ValueError(workload)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

class Tally:
    """Failed units against attempted ones, with a few example reasons."""

    def __init__(self, attempted):
        self.attempted = attempted
        self.failed = set()
        self.examples = []

    def fail(self, key, why):
        if key not in self.failed and len(self.examples) < 5:
            self.examples.append(f'{key}: {why}')
        self.failed.add(key)


def _md5(col):
    from pyspark.sql import functions as F
    return F.coalesce(F.md5(col), F.lit('NULL'))


def _collect(df):
    return df.toPandas().to_dict('records')


def check_turns(tally, expect, rows, fields):
    """Compare collected per-page rows against per-turn expectations.

    ``rows``: dicts with conv_id, turn_idx, page_idx, dialect, error and
    one ``h_<field>`` md5 column per compared field.
    """
    got = collections.defaultdict(list)
    for r in rows:
        got[f"{r['conv_id']}\t{r['turn_idx']}"].append(r)
    for key in got.keys() - expect.keys():
        tally.fail(key, 'unexpected turn in output')
    for key, e in expect.items():
        pages = got.get(key)
        if not pages:
            tally.fail(key, 'missing row')
            continue
        err = pages[0]['error']
        if e['error']:
            if err is None:
                tally.fail(key, f"expected {e['error']} not raised")
            elif err.split(':', 1)[0] != e['error']:
                tally.fail(key, f'wrong error class: {err[:80]}')
            continue
        if err is not None:
            tally.fail(key, f'unexpected error: {err[:80]}')
            continue
        if pages[0]['dialect'] != e['dialect']:
            tally.fail(key, f"dialect {pages[0]['dialect']}")
            continue
        pages = sorted(pages, key=lambda r: r['page_idx'])
        if [p['page_idx'] for p in pages] != list(range(len(e['pages']))):
            tally.fail(key, f'{len(pages)} pages, expected '
                            f"{len(e['pages'])}")
            continue
        for p, ep in zip(pages, e['pages']):
            bad = [f for f in fields if p[f'h_{f}'] != ep[f]]
            if bad:
                tally.fail(key, f"page {p['page_idx']} differs in {bad}")
                break


def _page_hashes(df, with_spans=False):
    from pyspark.sql import functions as F
    cols = [
        'conv_id', 'turn_idx', 'page_idx', 'dialect', 'error',
        _md5('extracted_text').alias('h_text'),
        _md5('extracted_sexpr').alias('h_sexpr'),
    ]
    if with_spans:
        canon = F.array_join(F.transform('spans', lambda s: F.concat_ws(
            ',', s.zone_type, s.depth.cast('string'),
            F.array_join(s.path.cast('array<string>'), '.'),
            s.x0.cast('string'), s.y0.cast('string'),
            s.x1.cast('string'), s.y1.cast('string'),
            F.coalesce(s.text, F.lit(bench_gen.NULL_MARK)))), '\n')
        cols.append(_md5(canon).alias('h_spans'))
    return df.select(*cols)


def _word_hashes(words_df):
    from pyspark.sql import functions as F
    recs = F.array_sort(F.collect_list(F.struct(
        'word_idx', 'x0', 'y0', 'x1', 'y1', 'word')))
    canon = F.array_join(F.transform(recs, lambda s: F.concat_ws(
        ',', s.x0.cast('string'), s.y0.cast('string'), s.x1.cast('string'),
        s.y1.cast('string'), F.coalesce(s.word, F.lit(bench_gen.NULL_MARK)))),
        '\n')
    return (words_df.groupBy('conv_id', 'turn_idx', 'page_idx')
            .agg(_md5(canon).alias('h_words')))


def check_long_tool(spark, meta):
    expect = meta['expect']['turns']
    tally = Tally(len(expect))
    rows = _collect(_page_hashes(long_tool_query(spark, meta['main']['path'])))
    check_turns(tally, expect, rows, ('text', 'sexpr'))
    return tally


def check_short_chat(spark, meta):
    from ocrodjvu_spark import pipeline
    from pyspark.sql import functions as F
    expect = meta['expect']['turns']
    tally = Tally(len(expect))
    extracted = pipeline.extract_turns(
        read(spark, meta['main']['path']), **MODES['short_chat_turns'])
    extracted = extracted.persist()
    try:
        pages = _page_hashes(extracted)
        words = _word_hashes(pipeline.word_spans(extracted))
        rows = _collect(
            pages.join(words, ['conv_id', 'turn_idx', 'page_idx'], 'left')
            .withColumn('h_words', F.coalesce(
                'h_words', F.lit(bench_gen.md5('')))))
    finally:
        extracted.unpersist()
    check_turns(tally, expect, rows, ('text', 'sexpr', 'words'))
    return tally


def _output_checksum(spark, out):
    from pyspark.sql import functions as F
    df = _page_hashes(read(spark, out), with_spans=True)
    row = df.agg(F.count('*').alias('n'), F.bit_xor(F.xxhash64(
        *df.columns)).alias('x')).first()
    return (row['n'], row['x'])


def check_resumable(spark, path, expect, out1, side1, work):
    """Per-turn check of a committed one-shot ``run_extraction`` output
    (``out1``/``side1``) of the turns in ``path`` plus the resume
    contract: a rerun on the same sidecar processes no bucket, and a
    split run (max_buckets) followed by a resume gives the same
    output."""
    tally = Tally(len(expect))
    rows = _collect(_page_hashes(read(spark, out1), with_spans=True))
    check_turns(tally, expect, rows, ('text', 'sexpr', 'spans'))

    redone = run_extraction(spark, path, out1, side1)
    if redone:
        for key in expect:
            tally.fail(key, f'rerun reprocessed buckets {redone}')

    out2 = S.fresh_dir(os.path.join(work, 'split-out'))
    side2 = S.fresh_dir(os.path.join(work, 'split-side'))
    first = run_extraction(spark, path, out2, side2,
                           max_buckets=N_BUCKETS // 2)
    rest = run_extraction(spark, path, out2, side2)
    if sorted(first + rest) != list(range(N_BUCKETS)):
        for key in expect:
            tally.fail(key, f'split run covered {sorted(first + rest)}')
    elif _output_checksum(spark, out1) != _output_checksum(spark, out2):
        split_rows = _collect(_page_hashes(read(spark, out2),
                                           with_spans=True))
        check_turns(tally, expect, split_rows, ('text', 'sexpr', 'spans'))
        if not tally.failed:
            tally.fail('checksum', 'split+resume output differs from '
                                   'one-shot output')
    return tally


def _norm(v):
    if isinstance(v, float):
        # NULL arrives as NaN from pandas on both sides
        return None if math.isnan(v) else round(v, 6)
    if hasattr(v, 'item'):
        return v.item()
    return v


def _row_set(records, cols):
    return collections.Counter(tuple(_norm(r[c]) for c in cols)
                               for r in records)


def check_textops(spark, docs_dir, frames):
    """Each textops/cms gate's rows against its DuckDB oracle over the
    same documents table; a differing row fails the documents it names
    (for a Count-Min row, every document holding the word)."""
    import duckdb
    import pyarrow.parquet as pq
    import __spark_entry__ as entry
    table = os.path.join(docs_dir, 'documents.parquet')
    texts = dict(zip(*pq.read_table(table, columns=['doc_id', 'text'])
                     .to_pydict().values()))
    tally = Tally(len(texts))
    con = duckdb.connect()
    try:
        con.execute('CREATE VIEW documents AS SELECT * FROM '
                    f"read_parquet('{table}/*.parquet')")
        oracles = entry.oracle_sql()
        for gate, df in frames.items():
            cols = sorted(df.columns)
            got = _row_set(_collect(df), cols)
            want = _row_set(con.execute(oracles[gate]).df()
                            .to_dict('records'), cols)
            for row in (got - want) + (want - got):
                rec = dict(zip(cols, row))
                if 'key' in rec:
                    ids = [i for i, t in texts.items()
                           if rec['key'] in t.split()]
                else:
                    ids = [rec[c] for c in ('doc_a', 'doc_b', 'doc_id')
                           if c in rec]
                for i in ids:
                    # the gates' planted near-duplicates are doc_id + 1e6
                    tally.fail(i % 1000000, f'{gate} row {row} differs')
    finally:
        con.close()
    return tally


CHECKS = {
    'long_tool_turns': check_long_tool,
    'short_chat_turns': check_short_chat,
}


def output_bytes(*dirs):
    """(parquet files, total bytes) under the given directories."""
    files = [f for d in dirs
             for f in glob.glob(os.path.join(d, '**', '*.parquet'),
                                recursive=True)]
    return len(files), sum(os.path.getsize(f) for f in files)
