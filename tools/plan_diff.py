#!/usr/bin/env python3
"""Diff two PlanDump output directories, query by query.

Usage: python3 tools/plan_diff.py <dir_a> <dir_b> [--suffix-a S] [--suffix-b S]
                                  [--summary]

Each directory holds one `<query><suffix>.txt` file per query, as written by
`sbt "runMain graft.PlanDump <sfDir> all <outDir> [suffix]"`. Files pair up
by query name. Before comparing, every plan is stripped of what changes from
run to run without a change in the plan: expression ids (`#123L`), plan and
broadcast ids, RDD ids and call-site line numbers, Scala lambda class names,
object hash codes, snapshot numbers and temporary paths. The script prints a
unified diff for every query whose normalized plans differ (only the query
names with --summary), then one summary line. Exit status: 0 when every plan is identical, 1 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

RULES = [
    # expression ids: id#3624L, lambda i#17, tile#3735L
    (re.compile(r'#\d+L?\b'), '#'),
    # physical plan and broadcast ids
    (re.compile(r'\[plan_id=\d+\]'), '[plan_id=N]'),
    (re.compile(r'\[id=#?\d+\]'), '[id=N]'),
    (re.compile(r'broadcastId=\d+'), 'broadcastId=N'),
    (re.compile(r'Broadcast\(\d+\)'), 'Broadcast(N)'),
    (re.compile(r'Reuses operator id: \d+'), 'Reuses operator id: N'),
    # RDD ids and the source lines of RDD call sites (RDD scans)
    (re.compile(r'(\w*RDD)\[\d+\]'), r'\1[N]'),
    (re.compile(r'(\.scala):\d+'), r'\1:L'),
    # Scala lambda classes and object hash codes
    (re.compile(r'\$\$Lambda[$/\w.]*(?:@[0-9a-f]+)?'), '$$Lambda'),
    (re.compile(r'@[0-9a-f]{5,}\b'), '@H'),
    # committed snapshot directories
    (re.compile(r'snap-\d+'), 'snap-N'),
    # temporary directories: keep the path below the per-run directory
    (re.compile(r'/tmp/[^/\s,\]]+'), '/tmp/T'),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text.splitlines()


def plans(d, suffix):
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(suffix + '.txt'):
            continue
        name = f[:len(f) - len(suffix) - 4]
        with open(os.path.join(d, f)) as fh:
            out[name] = normalize(fh.read())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('dir_a')
    ap.add_argument('dir_b')
    ap.add_argument('--suffix-a', default='')
    ap.add_argument('--suffix-b', default='')
    ap.add_argument('--summary', action='store_true',
                    help='print only the names of differing queries')
    args = ap.parse_args()
    a = plans(args.dir_a, args.suffix_a)
    b = plans(args.dir_b, args.suffix_b)
    same, differ = [], []
    for q in sorted(set(a) & set(b)):
        if a[q] == b[q]:
            same.append(q)
            continue
        differ.append(q)
        if args.summary:
            print(f'differs: {q} ({len(a[q])} -> {len(b[q])} lines)')
        else:
            print(f'===================== {q} =====================')
            sys.stdout.writelines(l + '\n' for l in difflib.unified_diff(
                a[q], b[q], f'{args.dir_a}/{q}', f'{args.dir_b}/{q}',
                lineterm='', n=2))
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    for q in only_a:
        print(f'only in {args.dir_a}: {q}')
    for q in only_b:
        print(f'only in {args.dir_b}: {q}')
    print(f'PLAN-DIFF: {len(same)} identical, {len(differ)} differ, '
          f'{len(only_a)} only in a, {len(only_b)} only in b')
    return 0 if not differ and not only_a and not only_b else 1


if __name__ == '__main__':
    sys.exit(main())
