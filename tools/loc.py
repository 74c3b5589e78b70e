#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines outside // and /* */ comments.

Usage: python3 tools/loc.py FILE_OR_DIR...  (directories: every *.scala)
Prints "<lines> <file>" per file, then "<lines> total". Comment markers
inside string literals are not recognised.
"""
import os
import re
import sys


def code_lines(text):
    n, depth = 0, 0  # depth: open /* */ blocks (Scala nests them)
    for line in text.splitlines():
        code, pos = [], 0
        for m in re.finditer(r'/\*|\*/|//', line):
            if depth == 0:
                code.append(line[pos:m.start()])
            if m.group() == '//' and depth == 0:
                pos = len(line)
                break
            depth += {'/*': 1, '*/': -1 if depth else 0}.get(m.group(), 0)
            pos = m.end()
        if depth == 0:
            code.append(line[pos:])
        n += bool(''.join(code).strip())
    return n


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in sorted(os.walk(p)):
                yield from (os.path.join(root, f) for f in sorted(names) if f.endswith('.scala'))
        else:
            yield p


total = 0
for path in scala_files(sys.argv[1:]):
    with open(path, encoding='utf-8') as fh:
        total += (n := code_lines(fh.read()))
    print(n, path)
print(total, 'total')
