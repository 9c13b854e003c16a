"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. Inputs are generated from the seed
(cached under ``.perfbench/``), the workload's query runs closed-loop --
one Spark job at a time on ``local[nproc]`` -- for ``--seconds``, every
output is checked, and the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` a separate traced run gives the per-layer ones. A
failed output check is reported on standard error and makes the exit
code 1, after the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, '.perfbench')
WORKLOADS = ('long_tool_turns', 'short_chat_turns')
E2E_UNITS = {'turns_per_s': 'turns/s', 'setup_s': 's',
             'worker_peak_rss_mb': 'MB'}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark process: inputs, the session and its set-up."""

    def __init__(self, workload, seed):
        import bench_gen
        self.workload, self.seed = workload, seed
        self.work = os.path.join(CACHE, 'work', f'{workload}-{os.getpid()}')
        t0 = time.perf_counter()
        self.meta = bench_gen.materialize(workload, seed,
                                          os.path.join(CACHE, 'inputs'))
        self.gen_s = time.perf_counter() - t0
        self.spark = None
        self.start_s = None   # process start to a running session
        self.warm_s = None    # warm-up passes until steady
        self.warm_passes = []

    @property
    def setup_s(self):
        return self.start_s + self.warm_s

    def setup(self):
        """Import the packages, start the session and warm up until
        steady, once per process: a second session in the same process
        would reuse the gateway JVM and the imported modules, and so not
        pay what a user's first query pays. Samples of setup_s come from
        repeated runs."""
        import bench_spark as S
        import bench_workloads as W
        S.configure_env(ROOT, CACHE)
        import pyspark.sql  # noqa: F401
        import ocrodjvu_spark.pipeline  # noqa: F401
        self.spark = S.start_session(CACHE, cpus())
        t1 = time.perf_counter()
        # process start to here, less input generation
        self.start_s = t1 - T_PROCESS - self.gen_s
        warm = W.make_pass(self.workload, self.spark,
                           self.meta['main']['path'])
        self.warm_passes = S.warm_until_steady(warm)
        self.warm_s = time.perf_counter() - t1

    def measure(self, seconds):
        import bench_spark as S
        import bench_workloads as W
        run_pass = W.make_pass(self.workload, self.spark,
                               self.meta['main']['path'])
        return S.passes_for(run_pass, seconds)

    def check(self):
        import bench_workloads as W
        return W.CHECKS[self.workload](self.spark, self.meta)

    def close(self):
        import shutil
        import bench_spark as S
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            S.shutdown_jvm()
            shutil.rmtree(self.work, ignore_errors=True)


def metric(value, unit, n):
    return {'value': value, 'unit': unit, 'n': n}


def end_to_end(bench, args):
    import bench_spark as S
    bench.setup()
    times = bench.measure(args.seconds)
    rss = S.worker_peak_rss_mb()
    rows = bench.meta['main']['rows']
    values = {
        'turns_per_s': (rows / statistics.median(times), len(times)),
        'setup_s': (bench.setup_s, 1),
        'worker_peak_rss_mb': (rss, 1),
    }
    report = {k: metric(v, E2E_UNITS[k], n) for k, (v, n) in values.items()}
    tally = bench.check()
    report['failed_turn_frac'] = metric(
        len(tally.failed) / tally.attempted, 'ratio', tally.attempted)
    context = {
        'pass_s': times, 'start_s': bench.start_s,
        'warm_passes_s': bench.warm_passes, 'generate_s': bench.gen_s,
        'cpus': cpus(),
    }
    return report, tally, context


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, 'ocrodjvu_spark')):
        print(f'perfbench: no ocrodjvu_spark package under {ROOT}; run from '
              'the root of a checkout', file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    bench = Bench(args.workload, args.seed)
    try:
        if args.trace:
            import bench_trace
            report, tally, context = bench_trace.traced_run(bench, args)
        else:
            report, tally, context = end_to_end(bench, args)
    finally:
        bench.close()

    print(f'# workload={args.workload} seed={args.seed} '
          f'trace={args.trace} context={json.dumps(context)}')
    for name, m in report.items():
        print(f"# {name:34s} {m['value']:>14.6g} {m['unit']:8s} "
              f"n={m['n']}")
    ok = not tally.failed
    if not ok:
        print(f'OUTPUT CHECK FAILED: {len(tally.failed)} of '
              f'{tally.attempted} turns wrong', file=sys.stderr)
        for ex in tally.examples:
            print(f'  {ex}', file=sys.stderr)
    wanted = bench_metric_names(args.trace)
    print(json.dumps({
        'correct': ok,
        'attempted': tally.attempted,
        'failed': len(tally.failed),
        'metrics': {k: {'value': report[k]['value'],
                        'unit': report[k]['unit']} for k in wanted},
    }))
    return 0 if ok else 1


def bench_metric_names(trace):
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        spec = json.load(fh)
    return [m['name'] for m in spec['per_layer' if trace else 'end_to_end']]


if __name__ == '__main__':
    sys.exit(main())
