#!/usr/bin/env python3
"""List the public defs in src/main that nothing else in src/main names.

A def counts when it is neither private, protected nor an override, and
its name appears on no other line of src/main/**/*.scala (comments
included). Such a def is reached, if at all, only from specs, perfbench
or outside callers: a candidate to give a front door, justify in
COVERAGE.md, or delete. The scan is textual, so a name shared with any
other identifier hides its def.

Usage: python3 tools/unreached_defs.py [src/main]
Prints `path:line: name` per def, then the count on stderr.
"""
import collections
import os
import re
import sys

DEF = re.compile(r'^\s*((?:(?:final|implicit|override|lazy|inline|'
                 r'private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)'
                 r'def\s+([A-Za-z_]\w*)')
WORD = re.compile(r'[A-Za-z_]\w*')


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else 'src/main'
    lines = []
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith('.scala'):
                path = os.path.join(d, f)
                with open(path, encoding='utf-8') as fh:
                    lines += [(path, i, l) for i, l in enumerate(fh, 1)]
    lines_of = collections.defaultdict(set)
    for k, (_, _, l) in enumerate(lines):
        for w in set(WORD.findall(l)):
            lines_of[w].add(k)
    found = 0
    for k, (path, i, l) in enumerate(lines):
        m = DEF.match(l)
        if not m or re.search(r'private|protected|override', m.group(1)):
            continue
        if lines_of[m.group(2)] - {k}:
            continue
        print(f'{path}:{i}: {m.group(2)}')
        found += 1
    print(f'{found} unreached public defs', file=sys.stderr)


if __name__ == '__main__':
    main()
