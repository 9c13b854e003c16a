"""The traced run: per-layer numbers from spans around calls into each
layer's public functions (nothing inside ``ocrodjvu_spark`` changes).

Spark layers are timed as plan cuts -- noop-sink passes over the same
input that stop after a given layer -- and a layer's self time is its
cut minus the cut of the layer it wraps. The kernel layer is timed
in-process on one core over a sample of the workload's own markup,
phase by phase.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

import pandas as pd

import bench_spark as S
import bench_workloads as W

# two passes per cut keep the traced run (about 20 cuts) well inside its
# time limit; per-layer metrics carry no bound
CUT_REPS = 2
KERNEL_ROUNDS = 3
KERNEL_SAMPLE = {'long_tool_turns': 24, 'short_chat_turns': 400}
# every per-layer metric of BENCHMARK.json with its unit. Predicted
# effects on turns_per_s: session.* make up setup_s; kernel.* and
# extract.udf_s move long_tool_turns; sources.scan_s,
# extract.boundary_s, the bytes counts and pipeline.explode_s move
# short_chat_turns (boundary changes should not move long_tool_turns);
# the shuffle/checkpoint and textops/cms layers are the deployed
# resumable job and the dedup gates, measured here on each workload's
# own input, and move neither end-to-end query.
LAYER_UNITS = {
    'session.start_s': 's',
    'session.warm_s': 's',
    'sources.scan_s': 's',
    'sources.task_skew': 'ratio',
    'extract.boundary_s': 's',
    'extract.udf_s': 's',
    'extract.bytes_to_python_per_turn': 'B',
    'extract.bytes_from_python_per_turn': 'B',
    'extract.parallel_efficiency': 'ratio',
    'kernel.docs_per_s': 'docs/s',
    'kernel.parse_us_per_doc': 'us',
    'kernel.scan_us_per_doc': 'us',
    'kernel.emit_us_per_doc': 'us',
    'kernel.unattributed_frac': 'ratio',
    'kernel.us_per_word_small': 'us',
    'kernel.us_per_word_large': 'us',
    'kernel.error_frac': 'ratio',
    'pipeline.explode_s': 's',
    'pipeline.shuffle_s': 's',
    'pipeline.failed_tasks': 'count',
    'checkpoint.write_s': 's',
    'checkpoint.commit_s': 's',
    'checkpoint.files_written': 'count',
    'checkpoint.out_bytes_per_in_byte': 'ratio',
    'textops.minhash_pairs_s': 's',
    'textops.simhash_pairs_s': 's',
    'cms.counts_s': 's',
    'textops.quality_buckets_s': 's',
    'textops.lsh_precision': 'ratio',
    'trace.overhead_frac': 'ratio',
    'trace.unattributed_frac': 'ratio',
}


class Tracer:
    """Spans {name, start, end, parent, run_id} kept in memory and written
    once at the end."""

    def __init__(self, run_id):
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name):
        rec = {'name': name, 'start': time.perf_counter(), 'end': None,
               'parent': self._stack[-1] if self._stack else None,
               'run_id': self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec['end'] = time.perf_counter()

    def timed(self, name, fn):
        with self.span(name) as rec:
            fn()
        return rec['end'] - rec['start']

    def self_times(self):
        """Total self time per span name: duration less the part covered
        by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s['parent'] is not None:
                child[s['parent']] += s['end'] - s['start']
        out = {}
        for i, s in enumerate(self.spans):
            out[s['name']] = (out.get(s['name'], 0.0)
                              + s['end'] - s['start'] - child[i])
        return out

    def dump(self, path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, 'w') as fh:
            json.dump({'run_id': self.run_id, 'spans': self.spans,
                       'self_time_s': self.self_times()}, fh)


def _cut(tr, name, fn):
    """Median over CUT_REPS passes of one plan cut, each pass a span."""
    return statistics.median(tr.timed(name, fn) for _ in range(CUT_REPS))


# ---------------------------------------------------------------------------
# plan cuts
# ---------------------------------------------------------------------------

def _stub_udf(emit_spans):
    """A pandas UDF with the real result schema of the mode that returns
    null payloads: the Arrow/pandas boundary without the kernel."""
    from pyspark.sql.functions import pandas_udf
    from ocrodjvu_spark.schema import EXTRACT_RESULT, EXTRACT_RESULT_PACKED
    schema = (EXTRACT_RESULT_PACKED if emit_spans in ('packed', 'words')
              else EXTRACT_RESULT)

    @pandas_udf(schema)
    def stub(texts: pd.Series) -> pd.DataFrame:
        n = len(texts)
        return pd.DataFrame({'pages': [None] * n, 'dialect': [None] * n,
                             'error': [None] * n})
    return stub


def spark_cuts(tr, spark, meta, mode, work):
    """Every Spark-side cut of the extraction chain over one input."""
    from pyspark.sql import functions as F
    from ocrodjvu_spark import pipeline
    from ocrodjvu_spark.plans import checkpoint
    turns_path = meta['main']['path']
    src = W.read(spark, turns_path)
    keys = ('conv_id', 'turn_idx')
    words_mode = {'emit_spans': 'words',
                  'page_size': W.MODES['short_chat_turns']['page_size']}
    c = {}
    c['scan'] = _cut(tr, 'cut.scan', lambda: S.noop(
        src.select(*keys, F.length('text').alias('n'))))
    stub = _stub_udf(mode.get('emit_spans'))
    c['stub'] = _cut(tr, 'cut.stub', lambda: S.noop(
        src.select(*keys, stub(F.col('text')).alias('_r'))))
    c['extract'] = _cut(tr, 'cut.extract', lambda: S.noop(
        pipeline.extract_turns(src, **mode)))
    words = pipeline.extract_turns(src, **words_mode)
    c['extract_words'] = _cut(tr, 'cut.extract_words',
                              lambda: S.noop(words))
    c['word_spans'] = _cut(tr, 'cut.word_spans', lambda: S.noop(
        pipeline.word_spans(words)))
    # the deployed job's layers -- full span structs, salted shuffle,
    # bucket-partitioned write, sidecar commit -- over a quarter of the
    # input files, which keeps the traced run inside its time limit
    files = sorted(glob.glob(os.path.join(turns_path, '*.parquet')))
    turns_path = files[:max(1, len(files) // 4)]
    src = W.read(spark, turns_path)
    deployed = W.DEPLOYED_MODE
    c['extract_full'] = _cut(tr, 'cut.extract_full', lambda: S.noop(
        pipeline.extract_turns(src, **deployed)))
    salted = pipeline.salted_repartition(
        checkpoint.with_bucket(src, W.N_BUCKETS), None, W.SALT_BUCKETS)
    shaped = pipeline.extract_turns(
        checkpoint.with_bucket(src, W.N_BUCKETS),
        keep_columns=('role', 'tool', 'ts', checkpoint.BUCKET_COL),
        salt_buckets=W.SALT_BUCKETS, **deployed,
    ).repartition(W.N_BUCKETS, F.col(checkpoint.BUCKET_COL))
    c['shuffle'] = _cut(tr, 'cut.shuffle', lambda: S.noop(shaped))

    def plain_write():
        out = S.fresh_dir(os.path.join(work, 'plain'))
        shaped.write.partitionBy(checkpoint.BUCKET_COL).mode(
            'overwrite').parquet(out)
    c['plain_write'] = _cut(tr, 'cut.plain_write', plain_write)
    out, side = (os.path.join(work, 'ckpt-out'),
                 os.path.join(work, 'ckpt-side'))

    def committed():
        S.fresh_dir(out)
        S.fresh_dir(side)
        W.run_extraction(spark, turns_path, out, side)
    c['run_extraction'] = _cut(tr, 'cut.run_extraction', committed)
    c['files_written'], c['out_bytes'] = W.output_bytes(out, side)
    import pyarrow.parquet as pq
    part = pq.read_table(turns_path, columns=['conv_id', 'turn_idx', 'text'])
    c['in_bytes'] = sum(len(t.encode('utf-8'))
                        for t in part.column('text').to_pylist())
    keys = {f'{a}\t{b}' for a, b in zip(part.column('conv_id').to_pylist(),
                                        part.column('turn_idx').to_pylist())}
    expect = {k: e for k, e in meta['expect']['turns'].items() if k in keys}
    with tr.span('check.resume'):
        c['tally'] = W.check_resumable(spark, turns_path, expect, out, side,
                                       work)

    # rows per extraction task of the deployed job's salted layout
    counts = [r['n'] for r in salted.groupBy(
        F.spark_partition_id().alias('p')).agg(
        F.count('*').alias('n')).collect()]
    c['task_skew'] = max(counts) / statistics.median(counts)
    return c


DOC_WORDS = 64


def documents_form(spark, turns_path, work):
    """The extracted text of every page, cut to its first DOC_WORDS
    words, as a documents table (``<dir>/documents.parquet``): the
    textops gates' input."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from ocrodjvu_spark import pipeline
    docs_dir = os.path.join(work, 'docs')
    text = pipeline.extract_turns(
        W.read(spark, turns_path), emit_spans=False, emit_sexpr=False,
        page_size=W.MODES['short_chat_turns']['page_size'])
    (text.where(F.col('extracted_text').isNotNull())
     .select(F.row_number().over(Window.orderBy(
         'conv_id', 'turn_idx', 'page_idx')).cast('long').alias('doc_id'),
         F.substring_index(F.regexp_replace('extracted_text', r'\s+', ' '),
                           ' ', DOC_WORDS).alias('text'))
     .write.mode('overwrite').parquet(
         os.path.join(docs_dir, 'documents.parquet')))
    return docs_dir


def textops_cuts(tr, spark, docs_dir):
    from pyspark.sql import functions as F
    from ocrodjvu_spark.functions import textops
    frames = W.dedup_frames(spark, docs_dir)
    c = {g: _cut(tr, f'cut.{g}', lambda df=df: S.noop(df))
         for g, df in frames.items()}
    with tr.span('check.textops'):
        c['tally'] = W.check_textops(spark, docs_dir, frames)
    docs = W.read(spark, os.path.join(docs_dir, 'documents.parquet'))
    bands = textops.minhash_band_table(
        textops.minhash_signature_table(docs.select('doc_id', 'text')))
    a, b = bands.alias('a'), bands.alias('b')
    candidates = (a.join(b, (F.col('a.band') == F.col('b.band'))
                         & (F.col('a.doc_id') < F.col('b.doc_id')))
                  .select('a.doc_id', 'b.doc_id').distinct().count())
    verified = textops.minhash_dedup_pairs(
        docs.select('doc_id', 'text'), threshold=0.5).count()
    c['lsh_precision'] = verified / candidates if candidates else 1.0
    return c


# ---------------------------------------------------------------------------
# kernel layer, in process on one core
# ---------------------------------------------------------------------------

def kernel_sample(bench, turns_path):
    import pyarrow.parquet as pq
    k = KERNEL_SAMPLE[bench.workload]
    files = sorted(f for f in os.listdir(turns_path)
                   if f.endswith('.parquet'))
    texts = []
    for f in files:
        texts += pq.read_table(os.path.join(turns_path, f),
                               columns=['text']).column(0).to_pylist()
        if len(texts) >= k:
            break
    return texts[:k]


def _payload_bytes(result):
    n = sum(len(v.encode('utf-8')) for v in (result['dialect'],
                                              result['error']) if v)
    for page in result['pages'] or ():
        for v in page.values():
            if isinstance(v, str):
                n += len(v.encode('utf-8'))
            elif isinstance(v, list):  # span tuples
                for sp in v:
                    n += sum(len(x.encode('utf-8')) if isinstance(x, str)
                             else 4 * (len(x) if isinstance(x, list) else 1)
                             for x in sp if x is not None)
    return n


def kernel_layer(tr, texts, mode):
    """Single-core kernel timings over ``texts`` in the workload's mode:
    ``extract_one`` as a whole, and its parse / scan / emit phases."""
    from ocrodjvu_spark.functions import extract as X
    from ocrodjvu_spark.kernel import hocr
    details = hocr.DETAILS_BY_NAME['words']
    emit_spans = mode.get('emit_spans', True)
    page_size = mode.get('page_size')

    def phases(markup):
        settings = hocr.ExtractSettings(details=details, page_size=page_size)
        t0 = time.perf_counter()
        root = hocr.read_document(markup, settings)
        t1 = time.perf_counter()
        try:
            # words detail: extract_zones reads no makebox script
            hocr.detect_dialect(root, settings)
            zones = hocr.scan(root.find('body'), settings)
        except ValueError:  # MalformedHocr: the error-channel rows
            zones = []
        t2 = time.perf_counter()
        for z in zones:
            if emit_spans in ('words', 'packed'):
                X.pack_word_spans(z)
            elif emit_spans:
                X.flatten_zone(z)
            X.zone_text(z)
            z.compact_sexpr()
        t3 = time.perf_counter()
        return t1 - t0, t2 - t1, t3 - t2

    rounds = {'extract': [], 'parse': [], 'scan': [], 'emit': []}
    per_doc = [float('inf')] * len(texts)
    results = []
    for rnd in range(KERNEL_ROUNDS):
        with tr.span('kernel.round'):
            tot = [0.0, 0.0, 0.0, 0.0]
            with tr.span('kernel.extract_one'):
                for i, t in enumerate(texts):
                    t0 = time.perf_counter()
                    r = X.extract_one(t, details=details, **mode)
                    dt = time.perf_counter() - t0
                    per_doc[i] = min(per_doc[i], dt)
                    tot[0] += dt
                    if rnd == 0:
                        results.append(r)
            with tr.span('kernel.phases'):
                for t in texts:
                    p, s, e = phases(t)
                    tot[1] += p
                    tot[2] += s
                    tot[3] += e
        for k, v in zip(('extract', 'parse', 'scan', 'emit'), tot):
            rounds[k].append(v)
    med = {k: statistics.median(v) for k, v in rounds.items()}
    n = len(texts)
    n_words = [sum(len((p['extracted_text'] or '').split())
                   for p in (r['pages'] or ())) for r in results]
    order = sorted((i for i in range(n) if n_words[i]),
                   key=lambda i: n_words[i])
    q = max(1, len(order) // 5)

    def us_per_word(idx):
        return (1e6 * sum(per_doc[i] for i in idx)
                / sum(n_words[i] for i in idx))
    return {
        'docs_per_s': n / med['extract'],
        'parse_us_per_doc': 1e6 * med['parse'] / n,
        'scan_us_per_doc': 1e6 * med['scan'] / n,
        'emit_us_per_doc': 1e6 * med['emit'] / n,
        'unattributed_frac': 1 - (med['parse'] + med['scan'] + med['emit'])
        / med['extract'],
        'us_per_word_small': us_per_word(order[:q]),
        'us_per_word_large': us_per_word(order[-q:]),
        'error_frac': sum(1 for r in results if r['error']) / n,
        'bytes_from_python_per_turn':
            sum(_payload_bytes(r) for r in results) / n,
    }


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def traced_run(bench, args):
    """Untraced passes, traced passes, every layer cut, the kernel
    sample and the output check; returns (report, tally, context)."""
    from bench import _host_control
    from run import CACHE, cpus, metric
    tr = Tracer(f'{bench.workload}-s{bench.seed}-{os.getpid()}')
    work = os.path.join(bench.work, 'trace')
    with tr.span('run'):
        with tr.span('session.setup'):
            bench.setup()
        spark = bench.spark
        half = args.seconds / 2
        untraced = bench.measure(half)
        run_pass = W.make_pass(bench.workload, spark,
                               bench.meta['main']['path'])
        traced = S.passes_for(lambda: tr.timed('pass', run_pass), half)
        rss = S.worker_peak_rss_mb()
        turns_path = bench.meta['main']['path']
        with tr.span('prep.documents_form'):
            docs_dir = documents_form(spark, turns_path, work)
        mode = W.MODES[bench.workload]
        cuts = spark_cuts(tr, spark, bench.meta, mode, work)
        tops = textops_cuts(tr, spark, docs_dir)
        sample = kernel_sample(bench, turns_path)
        kern = kernel_layer(tr, sample, mode)
        n_failed = S.failed_tasks(spark)
        with tr.span('check'):
            tally = bench.check()
    # the resume check and the textops oracle check fail turns and
    # documents of their own; all count against the run
    for tag, extra in (('resume', cuts.pop('tally')),
                       ('doc', tops.pop('tally'))):
        tally.attempted += extra.attempted
        tally.failed |= {f'{tag} {k}' for k in extra.failed}
        tally.examples += extra.examples
    tr.dump(os.path.join(CACHE, 'traces', f'{tr.run_id}.json'))

    rows = bench.meta['main']['rows']
    tps = rows / statistics.median(untraced)
    pass_s = statistics.median(traced)
    # a pass as the sum of separately measured layers: scan + boundary
    # (the stub cut), the single-core kernel time of the whole input
    # (scaled from the sample by markup bytes) spread over the cores,
    # and the word explode where the query has one
    sample_bytes = sum(len(t.encode('utf-8')) for t in sample)
    kernel_s = (bench.meta['main']['text_bytes'] / sample_bytes
                * len(sample) / kern['docs_per_s'])
    explode = cuts['word_spans'] - cuts['extract_words']
    layers_s = cuts['stub'] + kernel_s / cpus() + (
        explode if bench.workload == 'short_chat_turns' else 0.0)
    values = [
        ('session.start_s', bench.start_s, 1),
        ('session.warm_s', bench.warm_s, 1),
        ('sources.scan_s', cuts['scan'], CUT_REPS),
        ('sources.task_skew', cuts['task_skew'], 1),
        ('extract.boundary_s', cuts['stub'] - cuts['scan'], CUT_REPS),
        ('extract.udf_s', cuts['extract'] - cuts['stub'], CUT_REPS),
        ('extract.bytes_to_python_per_turn',
         bench.meta['main']['text_bytes'] / rows, rows),
        ('extract.bytes_from_python_per_turn',
         kern['bytes_from_python_per_turn'],
         KERNEL_SAMPLE[bench.workload]),
        ('extract.parallel_efficiency',
         tps / (cpus() * kern['docs_per_s']), 1),
        ('kernel.docs_per_s', kern['docs_per_s'], KERNEL_ROUNDS),
        ('kernel.parse_us_per_doc', kern['parse_us_per_doc'],
         KERNEL_ROUNDS),
        ('kernel.scan_us_per_doc', kern['scan_us_per_doc'],
         KERNEL_ROUNDS),
        ('kernel.emit_us_per_doc', kern['emit_us_per_doc'],
         KERNEL_ROUNDS),
        ('kernel.unattributed_frac', kern['unattributed_frac'],
         KERNEL_ROUNDS),
        ('kernel.us_per_word_small', kern['us_per_word_small'],
         KERNEL_ROUNDS),
        ('kernel.us_per_word_large', kern['us_per_word_large'],
         KERNEL_ROUNDS),
        ('kernel.error_frac', kern['error_frac'],
         KERNEL_SAMPLE[bench.workload]),
        ('pipeline.explode_s', explode, CUT_REPS),
        ('pipeline.shuffle_s', cuts['shuffle'] - cuts['extract_full'],
         CUT_REPS),
        ('pipeline.failed_tasks', n_failed, 1),
        ('checkpoint.write_s', cuts['plain_write'] - cuts['shuffle'],
         CUT_REPS),
        ('checkpoint.commit_s',
         cuts['run_extraction'] - cuts['plain_write'], CUT_REPS),
        ('checkpoint.files_written', cuts['files_written'], 1),
        ('checkpoint.out_bytes_per_in_byte',
         cuts['out_bytes'] / cuts['in_bytes'], 1),
        ('textops.minhash_pairs_s', tops['dedup_minhash_lsh'],
         CUT_REPS),
        ('textops.simhash_pairs_s', tops['dedup_simhash_pairs'],
         CUT_REPS),
        ('cms.counts_s', tops['cms_counts'], CUT_REPS),
        ('textops.quality_buckets_s', tops['quality_buckets'],
         CUT_REPS),
        ('textops.lsh_precision', tops['lsh_precision'], 1),
        ('trace.overhead_frac', pass_s / statistics.median(untraced) - 1,
         len(traced)),
        ('trace.unattributed_frac', 1 - layers_s / pass_s,
         len(traced)),
    ]
    report = {name: metric(v, LAYER_UNITS[name], n)
              for name, v, n in values}
    missing = LAYER_UNITS.keys() - report.keys()
    if missing:
        raise KeyError(f'per-layer metrics not measured: {sorted(missing)}')
    context = {
        'pass_s': untraced, 'traced_pass_s': traced,
        'worker_peak_rss_mb': rss, 'cuts_s': cuts, 'textops_s': tops,
        'host_ctl_sec': _host_control(), 'cpus': cpus(),
        'layers_s': layers_s,
        'spans': len(tr.spans),
    }
    return report, tally, context
