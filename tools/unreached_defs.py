#!/usr/bin/env python3
"""List the public defs in src/main that no front door reaches.

Reachability is a fixed point over src/main/**/*.scala, comments
blanked (`//` and nested `/* ... */`, scaladoc included; string
literals are kept, because an `s"...$name..."` interpolation is a real
use):

- roots: every def of the front-door objects — `SparkEntry`, `Engine`,
  `GraftExtensions`, the gateway (`SqlGateway`) and the SQL function
  registry (`GraftFunctions`) — every `main`, and every `override` or
  `implicit` def (the runtime or the compiler calls those);
- top-level code (any line outside a def body: vals, object and class
  bodies — the `queries` of the `SparkEntry` modules among them) names
  defs as a root does;
- a def is reached when a reached def's body or top-level code names it
  outside the def's own body, so a name that occurs only in its own
  body (a `require` message, a recursive call) does not reach it, nor
  does a call from an unreached def.

Where several defs share a short name, a qualified occurrence
`Owner.name` reaches only the def of that owner; an unqualified one
reaches the def of an enclosing owner when there is one, else every def
of that name. A def body runs from its `def` line to the last line
indented deeper than it (plus its closing brace); defs local to another
def are never listed. Everything listed is reached, if at all, only
from specs, perfbench or outside callers: a candidate to give a front
door, justify in COVERAGE.md, or delete.

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
WORD = re.compile(r'(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)')
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")
SECTION = 'Library surface without a front door'
BULLET = re.compile(r'^- `([\w$]+\.[\w$]+)`')
FRONT_DOORS = {'SparkEntry', 'Engine', 'GraftExtensions', 'SqlGateway',
               'GraftFunctions'}


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


def indent(line):
    return len(line) - len(line.lstrip())


def read(root):
    """[(path, [code lines with comments blanked])] under `root`."""
    files = []
    for d, _, names in sorted(os.walk(root)):
        for f in sorted(names):
            if f.endswith('.scala'):
                path = os.path.join(d, f)
                with open(path, encoding='utf-8') as fh:
                    files.append((path, strip_comments(fh.read()).split('\n')))
    return files


def scan(root):
    """(path, line, Object.def) of every public def no front door reaches."""
    files = read(root)
    defs = []   # dicts: path, line, owner, chain, name, start, end, public, root, local
    uses = []   # (def index or None for top-level, chain, qualifier, name, file, line)
    for fi, (path, lines) in enumerate(files):
        owners = []      # (indent, name) of the enclosing declarations
        open_defs = []   # indices into defs whose bodies are open
        chains = []
        for k, l in enumerate(lines):
            if l.strip():
                ind = indent(l)
                while open_defs and k > defs[open_defs[-1]]['end']:
                    open_defs.pop()
                owners = [x for x in owners if x[0] < ind or
                          (x[0] == ind and l.strip().startswith(('}', ')')))]
            o = OWNER.match(l)
            if o:
                owners.append((len(o.group(1)), o.group(2)))
            chain = tuple(n for _, n in owners)
            chains.append(chain)
            m = DEF.match(l)
            if m and not o:
                ind = indent(l)
                end = k
                j = k + 1
                while j < len(lines):
                    if not lines[j].strip() or indent(lines[j]) > ind:
                        if lines[j].strip():
                            end = j
                        j += 1
                        continue
                    if indent(lines[j]) == ind and \
                            lines[j].strip().startswith(('}', ')')):
                        end = j
                    break
                mods = m.group(1)
                owner = chain[-1] if chain else '?'
                defs.append(dict(
                    path=path, line=k + 1, owner=owner, chain=chain,
                    name=m.group(2), start=k, end=end, file=fi,
                    public=not re.search(r'private|protected|override', mods),
                    local=bool(open_defs),
                    root=(bool(re.search(r'override|implicit', mods)) or
                          m.group(2) == 'main' or
                          any(c in FRONT_DOORS for c in chain))))
                open_defs.append(len(defs) - 1)
            inner = open_defs[-1] if open_defs else None
            for w in WORD.finditer(l):
                uses.append((inner, chain, w.group(1), w.group(2), fi, k))
    by_name = collections.defaultdict(list)
    for i, d in enumerate(defs):
        by_name[d['name']].append(i)
    # the enclosing defs of a line: a use reaches nothing whose body holds it
    def targets(chain, qual, name, fi, k):
        cands = [i for i in by_name.get(name, ())
                 if not (defs[i]['file'] == fi and
                         defs[i]['start'] <= k <= defs[i]['end'])]
        if len(cands) > 1:
            if qual is not None and any(defs[i]['owner'] == qual for i in cands):
                cands = [i for i in cands if defs[i]['owner'] == qual]
            else:
                near = [i for i in cands if defs[i]['owner'] in chain]
                cands = near or cands
        return cands
    body_uses = collections.defaultdict(list)   # def index -> uses in its body
    reached = set()
    work = []
    for inner, chain, qual, name, fi, k in uses:
        if inner is None:
            work += targets(chain, qual, name, fi, k)
        else:
            body_uses[inner].append((chain, qual, name, fi, k))
    work += [i for i, d in enumerate(defs) if d['root']]
    # a use inside a nested def body belongs to every enclosing def too
    for i, d in enumerate(defs):
        if d['local']:
            for j, e in enumerate(defs):
                if j != i and e['file'] == d['file'] and \
                        e['start'] < d['start'] and d['end'] <= e['end']:
                    body_uses[j] += body_uses[i]
    while work:
        i = work.pop()
        if i in reached:
            continue
        reached.add(i)
        for chain, qual, name, fi, k in body_uses[i]:
            work += [t for t in targets(chain, qual, name, fi, k)
                     if t not in reached]
    return [(d['path'], d['line'], f"{d['owner']}.{d['name']}")
            for i, d in enumerate(defs)
            if d['public'] and not d['local'] and i not in reached]


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
