#!/usr/bin/env python3
"""List the public defs in src/main that nothing else in src/main names.

A def counts when it is neither private, protected nor an override, and
its name appears on no other line of src/main/**/*.scala outside
comments. Comments (`//` and nested `/* ... */`, scaladoc included) are
blanked before the words are collected, so a name that only a doc
comment mentions no longer hides its def; string literals are kept,
because an `s"...$name..."` interpolation is a real use. Such a def is
reached, if at all, only from specs, perfbench or outside callers: a
candidate to give a front door, justify in COVERAGE.md, or delete. The
scan is textual, so a name shared with any other identifier hides its
def.

Usage: python3 tools/unreached_defs.py [--check] [src/main]
Prints `path:line: Object.def` per def, then the count on stderr.
--check also reads the COVERAGE.md section "Library surface without a
front door" and exits 1 when a listed def has no bullet there
(a bullet starts with "- `Object.def`").
"""
import collections
import os
import re
import sys

DEF = re.compile(r'^\s*((?:(?:final|implicit|override|lazy|inline|'
                 r'private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)'
                 r'def\s+([A-Za-z_]\w*)')
OWNER = re.compile(r'^(\s*)(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|'
                   r'final|sealed|abstract|implicit|case)\s+)*'
                   r'(?:object|class|trait)\s+([A-Za-z_]\w*)')
WORD = re.compile(r'[A-Za-z_]\w*')
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")
SECTION = 'Library surface without a front door'
BULLET = re.compile(r'^- `([\w$]+\.[\w$]+)`')


def strip_comments(text):
    """`text` with every comment character blanked to a space (newlines
    kept, so line numbers hold); string and char literals untouched."""
    out = list(text)
    i, n, depth = 0, len(text), 0
    while i < n:
        c = text[i]
        if depth:  # inside a (nested) block comment
            if text.startswith('/*', i):
                depth += 1
                out[i] = out[i + 1] = ' '
                i += 2
            elif text.startswith('*/', i):
                depth -= 1
                out[i] = out[i + 1] = ' '
                i += 2
            else:
                if c != '\n':
                    out[i] = ' '
                i += 1
        elif text.startswith('//', i):
            while i < n and text[i] != '\n':
                out[i] = ' '
                i += 1
        elif text.startswith('/*', i):
            depth = 1
            out[i] = out[i + 1] = ' '
            i += 2
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            i = n if end < 0 else end + 3
            while i < n and text[i] == '"':
                i += 1
        elif c == '"':
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == '\\' else 1
            i += 1
        elif c == "'":
            m = CHAR_LIT.match(text, i)
            i = m.end() if m else i + 1
        else:
            i += 1
    return ''.join(out)


def scan(root):
    """(path, line, Object.def) of every unreached public def."""
    lines = []  # (path, line number, code with comments blanked)
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith('.scala'):
                path = os.path.join(d, f)
                with open(path, encoding='utf-8') as fh:
                    code = strip_comments(fh.read())
                lines += [(path, i, l)
                          for i, l in enumerate(code.split('\n'), 1)]
    lines_of = collections.defaultdict(set)
    for k, (_, _, l) in enumerate(lines):
        for w in set(WORD.findall(l)):
            lines_of[w].add(k)
    found = []
    owners = []  # (indent, name) of the enclosing declarations
    for k, (path, i, l) in enumerate(lines):
        if i == 1:
            owners = []
        o = OWNER.match(l)
        if o:
            indent = len(o.group(1))
            owners = [x for x in owners if x[0] < indent] + [(indent, o.group(2))]
            continue
        m = DEF.match(l)
        if not m or re.search(r'private|protected|override', m.group(1)):
            continue
        if lines_of[m.group(2)] - {k}:
            continue
        indent = len(l) - len(l.lstrip())
        owner = next((name for ind, name in reversed(owners) if ind < indent), '?')
        found.append((path, i, f'{owner}.{m.group(2)}'))
    return found


def coverage_bullets(path='COVERAGE.md'):
    """The `Object.def` bullets of the COVERAGE.md section SECTION."""
    bullets, inside = set(), False
    with open(path, encoding='utf-8') as fh:
        for line in fh:
            if line.startswith('#'):
                inside = SECTION in line
            elif inside:
                m = BULLET.match(line)
                if m:
                    bullets.add(m.group(1))
    return bullets


def main():
    args = sys.argv[1:]
    check = '--check' in args
    args = [a for a in args if a != '--check']
    root = args[0] if args else 'src/main'
    found = scan(root)
    for path, i, name in found:
        print(f'{path}:{i}: {name}')
    print(f'{len(found)} unreached public defs', file=sys.stderr)
    if check:
        missing = [name for _, _, name in found
                   if name not in coverage_bullets()]
        for name in missing:
            print(f'no COVERAGE.md bullet under "{SECTION}": {name}',
                  file=sys.stderr)
        sys.exit(1 if missing else 0)


if __name__ == '__main__':
    main()
