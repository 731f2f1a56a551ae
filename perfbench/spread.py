#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --seeds 1-10 [--workloads april_dense,ingest_index]

Runs the benchmark once per seed and workload, one run at a time, with
BENCHMARK.json's run_seconds, and prints for every end-to-end metric the
median, the quartiles (statistics.quantiles(values, n=4)) and the spread
(Q3 - Q1) / median next to the metric's bound. Raw lines are appended to
.bench_build/perfbench/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(','):
        a, _, b = part.partition('-')
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    with open(os.path.join(CHECKOUT, 'BENCHMARK.json')) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--seeds', required=True, help='e.g. 1-10 or 3,5,8')
    ap.add_argument('--workloads', default=','.join(w['name'] for w in bench['workloads']))
    args = ap.parse_args()
    log = os.path.join(CHECKOUT, '.bench_build', 'perfbench', 'spread.jsonl')
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for w in args.workloads.split(','):
        values = {m['name']: [] for m in bench['end_to_end']}
        for s in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, 'run.py'), '--workload', w,
                   '--seed', str(s), '--seconds', str(bench['run_seconds']), '--trace', '0']
            r = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                sys.exit(f'{w} seed {s}: exit {r.returncode}')
            res = json.loads(r.stdout.strip().splitlines()[-1])
            with open(log, 'a') as fh:
                fh.write(json.dumps({'workload': w, 'seed': s, **res}) + '\n')
            if not res['correct']:
                print(f'{w} seed {s}: {res["failed"]} of {res["attempted"]} ops failed')
            for k in values:
                values[k].append(res['metrics'][k]['value'])
        print(f'{w} ({len(values[next(iter(values))])} runs)')
        for m in bench['end_to_end']:
            v = values[m['name']]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / statistics.median(v)
            print(f'  {m["name"]:<14} median {statistics.median(v):12.4f}  '
                  f'Q1 {q1:12.4f}  Q3 {q3:12.4f}  spread {spread:6.3f}  bound {m["bound"]}')


if __name__ == '__main__':
    main()
