#!/usr/bin/env python3
"""Benchmark of the graft spatial engine: one workload per invocation.

    python3 perfbench/run.py --workload april_dense --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The script

1. compiles the program (src/main/scala) and the benchmark
   (perfbench/src) with the Scala compiler that ships in the Spark jar
   directory build.sbt compiles against, into .bench_build/perfbench
   (reused while sources are unchanged);
2. starts one JVM with plain `java` that sets the workload up, warms it up
   and runs its ops in a closed loop for --seconds (perfbench.Main);
3. checks every op's output outside the timed window: a row count and an
   order-independent digest against SparkEntry.oracleSql run in DuckDB over
   the generated inputs; ingest ops are checked against their committed
   snapshots;
4. prints one JSON line: the end-to-end metrics (--trace 0) or the
   per-layer metrics (--trace 1), and writes the full record, with spans
   and counters for traced runs, to .bench_build/perfbench/results.

All state lives in a run directory under .bench_build/perfbench/runs that
is deleted at exit. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
BUILD = os.path.join(CHECKOUT, '.bench_build', 'perfbench')

JVM_TIMEOUT_S = 160
HEAP = '3g'

# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt uses)
ADD_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke',
    'java.base/java.lang.reflect', 'java.base/java.io', 'java.base/java.net',
    'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs',
    'java.base/sun.security.action', 'java.base/sun.util.calendar']

WORKLOADS = ('april_dense', 'mbr_mix', 'ingest_index')

# digest arithmetic, identical to perfbench.Main.digest
P = 2147483647
MULT = [1000003, 998244353, 1234567891, 1597334677, 402653189, 805306457]


class BenchError(Exception):
    pass


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith('.scala')]
    return sorted(out)


def spark_jars_dir():
    """The jar directory build.sbt compiles against (its `unmanagedBase`),
    unless SPARK_JARS_DIR names another."""
    if 'SPARK_JARS_DIR' in os.environ:
        return os.environ['SPARK_JARS_DIR']
    with open(os.path.join(CHECKOUT, 'build.sbt')) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise BenchError('build.sbt names no unmanagedBase jar directory')
    return m.group(1)


def spark_classpath():
    jar_dir = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(jar_dir, '*.jar')))
    if not any(os.path.basename(j).startswith('scala-compiler-') for j in jars):
        raise BenchError(f'no Scala compiler in {jar_dir}')
    return jars


def scalac(cp, out_dir, srcs):
    os.makedirs(out_dir, exist_ok=True)
    cmd = ['java', '-Xss8m', '-Xmx2g', '-XX:-UsePerfData', '-cp', ':'.join(spark_classpath()),
           'scala.tools.nsc.Main', '-nowarn', '-d', out_dir, '-classpath', cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError('compile failed:\n' + r.stdout[-4000:])


def build():
    """Compiles program and benchmark; returns the runtime classpath."""
    prog_src = os.path.join(CHECKOUT, 'src', 'main', 'scala')
    prog = sources(prog_src)
    bench = sources(os.path.join(HERE, 'src'))
    if not prog:
        raise BenchError(f'no program sources under {prog_src}')
    jars = spark_classpath()
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, CHECKOUT).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    h.update('\n'.join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    prog_out = os.path.join(BUILD, 'classes')
    bench_out = os.path.join(BUILD, 'bench-classes')
    stamp_file = os.path.join(BUILD, 'stamp')
    cp = ':'.join([bench_out, prog_out] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    log('compiling program and benchmark')
    for d in (prog_out, bench_out):
        shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    scalac(':'.join(jars), prog_out, prog)
    scalac(':'.join([prog_out] + jars), bench_out, bench)
    with open(stamp_file, 'w') as fh:
        fh.write(stamp)
    log(f'compiled in {time.time() - t0:.1f} s')
    return cp


# ---------------------------------------------------------------- JVM run

def jvm_flags(run_dir):
    flags = [f'-Xmx{HEAP}', '-XX:+UseG1GC', '-XX:-UsePerfData',
             f'-Djava.io.tmpdir={os.path.join(run_dir, "tmp")}']
    for p in ADD_OPENS:
        flags += ['--add-opens', f'{p}=ALL-UNNAMED']
    return flags


def run_jvm(cp, args, run_dir, cpus):
    out = os.path.join(run_dir, 'result.json')
    os.makedirs(os.path.join(run_dir, 'tmp'), exist_ok=True)
    flags = jvm_flags(run_dir)
    cmd = ['java'] + flags + ['-cp', cp, 'perfbench.Main',
                              '--workload', args.workload, '--seed', str(args.seed),
                              '--seconds', str(args.seconds), '--trace', str(args.trace),
                              '--root', run_dir, '--out', out, '--cpus', str(cpus)]
    log_path = os.path.join(run_dir, 'jvm.log')
    with open(log_path, 'w') as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f'JVM did not finish within {JVM_TIMEOUT_S} s')
        except BaseException:  # interrupted: never leave the JVM behind
            proc.kill()
            proc.wait()
            raise
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise BenchError(f'JVM exited with {rc}:\n{tail}')
    with open(out) as fh:
        res = json.load(fh)
    res['jvm_flags'] = [f for f in flags if not f.startswith('-Djava.io.tmpdir')]
    return res


# ---------------------------------------------------------------- checks

def duck(run_dir):
    import duckdb
    con = duckdb.connect()
    tmp = os.path.join(run_dir, 'duckdb')
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET memory_limit='2GB'")
    con.execute('SET threads=4')
    return con


def digest_sql(inner, cols):
    terms = ' + '.join(
        f'((((CAST("{c}" AS BIGINT) % {P}) + {P}) % {P}) * {MULT[i]}) % {P}'
        for i, c in enumerate(cols))
    return (f'SELECT count(*), coalesce(sum(u), 0), coalesce(sum((u * u) % {P}), 0) '
            f'FROM (SELECT ({terms}) % {P} AS u FROM ({inner}))')


def oracle_text(name, sql):
    """The registry's oracle SQL. q_pip_join_april alone gets the diamond's
    MBR bounds added to its WHERE: |dx|*hh + |dy|*hw <= hw*hh with hw, hh > 0
    implies |dx| <= hw and |dy| <= hh, so the rows are the same, but DuckDB
    can then plan a range join instead of a nested loop over every pair."""
    if name == 'q_pip_join_april':
        return sql + ('\n  AND p.x >= d.cx - d.hw AND p.x <= d.cx + d.hw'
                      '\n  AND p.y >= d.cy - d.hh AND p.y <= d.cy + d.hh')
    return sql


def check_queries(res, run_dir):
    con = duck(run_dir)
    for t in res['rows']:
        path = os.path.join(res['input_dir'], f'{t}.parquet', '*.parquet')
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    expected = {}
    for op in res['ops']:
        if op['err']:
            continue
        q = op['name']
        if q not in expected:
            try:
                sql = oracle_text(q, res['oracle_sql'][q])
                expected[q] = tuple(int(v) for v in
                                    con.execute(digest_sql(sql, op['columns'])).fetchone())
            except Exception as e:  # an oracle error fails the op, not the run
                expected[q] = f'oracle error: {e}'
        want = expected[q]
        got = (op['n'], op['s1'], op['s2'])
        if isinstance(want, str):
            op['err'] = want
        elif got != want:
            op['err'] = f'wrong result: rows/digest {got} != oracle {want}'


def latest_snapshot(root, table):
    with open(os.path.join(root, table, 'LATEST')) as fh:
        sid = int(fh.read().strip())
    snap = os.path.join(root, table, f'snap-{sid:05d}')
    with open(os.path.join(snap, 'MANIFEST.json')) as fh:
        manifest = json.load(fh)
    return os.path.join(snap, 'data', '*.parquet'), manifest


def check_ingest(res, run_dir):
    """Checks each ingest op's committed snapshots with DuckDB, from the
    files alone: row counts and manifests, unique urls and ids, the tile
    formula of q_tile_assign's oracle applied to the geotagged coordinates,
    and the index MBRs against q_index_build's oracle."""
    con = duck(run_dir)
    part = os.path.join(res['input_dir'], 'part.parquet', '*.parquet')
    con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{part}')")
    index_oracle = res['oracle_sql']['q_index_build']
    grid = ("(SELECT (-180.0 - 1e-8) AS gxmin, (-90.0 - 1e-8) AS gymin,"
            " ((180.0 + 1e-8) - (-180.0 - 1e-8)) / 872.0 AS fex,"
            " ((90.0 + 1e-8) - (-90.0 - 1e-8)) / 872.0 AS fey) gr")
    for op in res['ops']:
        if op['err']:
            continue
        try:
            n = op['pages']
            snaps = {}
            for t in ('pages', 'geotagged', 'tiles', 'polygons_idx'):
                path, manifest = latest_snapshot(op['root'], t)
                snaps[t] = f"read_parquet('{path}')"
                want = n if t != 'polygons_idx' else op['polygons']
                if manifest['total_rows'] != want:
                    raise BenchError(f'{t} manifest has {manifest["total_rows"]} rows, want {want}')
            def one(sql):
                return con.execute(sql).fetchone()
            c, u = one(f"SELECT count(*), count(DISTINCT url) FROM {snaps['pages']}")
            if (c, u) != (n, n):
                raise BenchError(f'pages: {c} rows, {u} distinct urls, want {n}')
            bad = one(f"""SELECT count(*) FILTER (WHERE NOT (x >= -180 AND x < 180
                          AND y >= -85 AND y < 85)), count(DISTINCT id), count(*)
                          FROM {snaps['geotagged']}""")
            if bad != (0, n, n):
                raise BenchError(f'geotagged: out-of-range/distinct/rows {bad}, want (0, {n}, {n})')
            mism = one(f"""WITH t AS (SELECT g.id, CAST(FLOOR((x - gxmin) / fex) AS BIGINT) AS fi,
                             CAST(FLOOR((y - gymin) / fey) AS BIGINT) AS fj
                           FROM {snaps['geotagged']} g, {grid})
                           SELECT count(*) FILTER (WHERE s.tile <> t.fi + t.fj * 872
                             OR s.coarseTile <> CAST(FLOOR(t.fi / 8.0) AS BIGINT)
                                + CAST(FLOOR(t.fj / 8.0) AS BIGINT) * 109), count(*)
                           FROM {snaps['tiles']} s JOIN t ON s.id = t.id""")
            if mism != (0, n):
                raise BenchError(f'tiles: {mism[0]} wrong of {mism[1]} joined, want 0 of {n}')
            idx = (f"SELECT id, xmin, ymin, xmax, ymax FROM {snaps['polygons_idx']}")
            orc = (f"SELECT id, CAST(xmin AS DOUBLE), CAST(ymin AS DOUBLE), "
                   f"CAST(xmax AS DOUBLE), CAST(ymax AS DOUBLE) FROM ({index_oracle})")
            diff = one(f"SELECT (SELECT count(*) FROM ({idx} EXCEPT ALL {orc})) + "
                       f"(SELECT count(*) FROM ({orc} EXCEPT ALL {idx}))")[0]
            if diff != 0:
                raise BenchError(f'index: {diff} MBR rows differ from the oracle')
        except Exception as e:
            op['err'] = f'{type(e).__name__}: {e}'


# ---------------------------------------------------------------- metrics

def pctl(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(res, timed):
    secs = [o['secs'] for o in timed]
    return {
        'op_p50_s': (statistics.median(secs), 's'),
        'rows_per_s': (sum(o['rows_in'] for o in timed) / sum(secs), 'rows/s'),
        'setup_s': (statistics.median(res['setup_s']), 's'),
    }


def per_layer(res, timed, untraced):
    tr = res['trace']
    wl = res['workload']
    cnt = [tr['counters'].get(str(o['id']), {}) for o in timed]
    plans = [tr['plans'].get(str(o['id'])) for o in timed]
    plans = [p for p in plans if p]
    ing = [o for o in timed if o['name'] == 'ingest']

    def c(key):
        return mean(x.get(key, 0) for x in cnt)

    explode_in = sum(p['explode_in'] for p in plans)
    cand_ops = [(o, tr['plans'][str(o['id'])]) for o in timed
                if tr['plans'].get(str(o['id']), {}).get('candidate_pairs', 0) > 0]
    cands = sum(p['candidate_pairs'] for _, p in cand_ops)
    idx = res.get('index') or {}
    if wl == 'ingest_index':
        index_build = mean(o['index_build_s'] for o in ing)
        index_bytes = mean(o['index_bytes'] for o in ing)
        index_files = mean(o['index_files'] for o in ing)
        written = mean(o['bytes_written'] for o in ing)
        stored = sum(o['bytes_written'] for o in ing) / sum(o['pages'] + o['polygons'] for o in ing)
    else:
        index_build = statistics.median(res['setup_index_build_s']) if idx else 0.0
        index_bytes = idx.get('bytes', 0)
        index_files = idx.get('files', 0)
        written = index_bytes
        stored = index_bytes / res['rows']['part'] if idx else 0.0
    m = {
        'plans.plan_s': (mean(o.get('plan_s', 0) for o in timed), 's'),
        'engine.jobs': (c('jobs'), 'count'),
        'engine.stages': (c('stages'), 'count'),
        'engine.tasks': (c('tasks'), 'count'),
        'engine.sched_delay_s': (c('sched_delay_s'), 's'),
        'engine.task_cpu_s': (c('task_cpu_s'), 's'),
        'engine.gc_s': (c('gc_s'), 's'),
        'engine.shuffle_write_bytes': (c('shuffle_write_bytes'), 'bytes'),
        'engine.shuffle_read_bytes': (c('shuffle_read_bytes'), 'bytes'),
        'engine.fetch_wait_s': (c('fetch_wait_s'), 's'),
        'engine.spill_bytes': (c('spill_bytes'), 'bytes'),
        'engine.broadcast_bytes': (mean(p['broadcast_bytes'] for p in plans), 'bytes'),
        'engine.failed_tasks': (c('failed_tasks'), 'count'),
        'engine.explode_rows_per_obj': (
            sum(p['explode_out'] for p in plans) / explode_in if explode_in else 0.0, 'ratio'),
        'engine.candidate_pairs': (mean(p['candidate_pairs'] for p in plans), 'count'),
        'engine.output_rows': (mean(o['n'] or 0 for o in timed if o['name'] != 'ingest'), 'count'),
        'engine.candidate_precision': (
            sum(o['n'] or 0 for o, _ in cand_ops) / cands if cands else 0.0, 'ratio'),
        'engine.max_codegen_method_bytes': (res['codegen_max_method_bytes'], 'bytes'),
        'engine.april_exprs': (mean(p['april_exprs'] for p in plans), 'count'),
        'store.index_build_s': (index_build, 's'),
        'store.index_bytes': (index_bytes, 'bytes'),
        'store.index_files': (index_files, 'count'),
        'store.bytes_written': (written, 'bytes'),
        'store.stored_bytes_per_row': (stored, 'bytes'),
        'store.snapshot_commit_s': (
            mean(o['synthesize_s'] + o['geotag_s'] + o['tile_assign_s'] for o in ing), 's'),
        'web.synthesize_s': (mean(o['synthesize_s'] for o in ing), 's'),
        'web.geotag_s': (mean(o['geotag_s'] for o in ing), 's'),
        'web.tile_assign_s': (mean(o['tile_assign_s'] for o in ing), 's'),
        'trace.overhead_s': (statistics.median(o['secs'] for o in timed) -
                             statistics.median(o['secs'] for o in untraced), 's'),
    }
    k = tr['kernels']
    for name in ('core.april_verdict_ns', 'core.topology_relate_ns',
                 'core.topology_locate_ns', 'core.april_rasterize_ns',
                 'core.hilbert_rect_intervals_ns'):
        m[name] = (k[name], 'ns')
    m['core.april_inconclusive_frac'] = (k['core.april_inconclusive_frac'], 'ratio')
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error('--seed must be >= 0')

    cp = build()
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    run_dir = os.path.join(BUILD, 'runs', f'{args.workload}-{args.seed}-{os.getpid()}')
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        res = run_jvm(cp, args, run_dir, cpus)
        t1 = time.time()
        if args.workload == 'ingest_index':
            check_ingest(res, run_dir)
        else:
            check_queries(res, run_dir)
        res['jvm_wall_s'], res['check_wall_s'] = t1 - t0, time.time() - t1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res['ops']
    timed = [o for o in ops if o['phase'] == 'timed']
    untraced = [o for o in ops if o['phase'] == 'untraced']
    failed = [o for o in ops if o['err']]
    if not timed:
        raise BenchError('no timed op completed')
    metrics = (per_layer(res, timed, untraced) if args.trace
               else end_to_end(res, timed))
    secs = [o['secs'] for o in timed]
    res.update({
        'nproc': os.cpu_count(), 'cpus_used': cpus,
        'metrics': {k: {'value': v, 'unit': u} for k, (v, u) in metrics.items()},
        'ops_attempted': len(ops), 'ops_failed': len(failed),
        'ops_failed_frac': len(failed) / len(ops),
        'errors': {f"{o['name']}#{o['id']}": o['err'] for o in failed},
        'timed_ops': len(secs), 'op_p90_s': pctl(secs, 0.9),
        'op_p90_samples_above': len(secs) - math.ceil(0.9 * len(secs)),
    })
    res.pop('oracle_sql', None)
    os.makedirs(os.path.join(BUILD, 'results'), exist_ok=True)
    tag = 'trace' if args.trace else 'run'
    path = os.path.join(BUILD, 'results',
                        f'{tag}-{args.workload}-s{args.seed}-{time.strftime("%Y%m%dT%H%M%S")}.json')
    with open(path, 'w') as fh:
        json.dump(res, fh)
    log(f'{len(ops)} ops, {len(failed)} failed; record: {os.path.relpath(path, CHECKOUT)}')
    for k, e in res['errors'].items():
        log(f'FAILED {k}: {e}')
    print(json.dumps({'correct': not failed, 'attempted': len(ops), 'failed': len(failed),
                      'metrics': res['metrics']}))


if __name__ == '__main__':
    # a SIGTERM unwinds like an exception, so the JVM is killed and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        log(f'error: {e}')
        sys.exit(2)
