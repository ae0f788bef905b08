#!/usr/bin/env python3
"""Count non-comment main Scala lines and the lines inside duplicated windows.

Usage: python3 tools/loc.py [src/main/scala]

Prints two numbers, one per line, each with a label:

  non_comment_lines   lines of main Scala that are neither blank nor
                      inside a // or /* */ comment (lines inside
                      triple-quoted strings always count);
  duplicated_lines    lines inside a 6-line window that occurs at least
                      twice in the tree.

A window is 6 consecutive *significant* lines of one file. A significant
line is a non-comment line that is not an import and not a bare closer
(only `}`, `)`, `]`, `,` and `;`), with its whitespace normalised to
single spaces. Only windows whose joined text is at least 150 characters
are counted, so boilerplate such as short case-class fields does not
match.
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 6
MIN_CHARS = 150
CLOSER = re.compile(r"^[})\],;]+$")


def code_lines(text):
    """Yield (line_number, stripped_line) for every non-comment, non-blank line."""
    in_block = False
    in_string = False
    for no, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if in_string:
            if line:
                yield no, line
            if raw.count('"""') % 2 == 1:
                in_string = False
            continue
        if in_block:
            end = line.find("*/")
            if end < 0:
                continue
            in_block = False
            line = line[end + 2:].strip()
        if not line or line.startswith("//"):
            continue
        if line.startswith("/*"):
            end = line.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            line = line[end + 2:].strip()
            if not line or line.startswith("//"):
                continue
        yield no, line
        if line.count('"""') % 2 == 1:
            in_string = True


def significant(line):
    return not line.startswith("import ") and not CLOSER.match(line)


def scan(root):
    files = []
    for d, _, names in os.walk(root):
        files.extend(os.path.join(d, n) for n in names if n.endswith(".scala"))
    files.sort()
    total = 0
    seqs = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            lines = list(code_lines(f.read()))
        total += len(lines)
        seqs.append((path, [(no, " ".join(l.split())) for no, l in lines if significant(l)]))
    occurrences = defaultdict(list)
    for path, seq in seqs:
        for i in range(len(seq) - WINDOW + 1):
            key = "\n".join(l for _, l in seq[i:i + WINDOW])
            if len(key) >= MIN_CHARS:
                occurrences[key].append((path, [no for no, _ in seq[i:i + WINDOW]]))
    duplicated = set()
    for occ in occurrences.values():
        if len(occ) > 1:
            for path, nos in occ:
                duplicated.update((path, no) for no in nos)
    return total, len(duplicated)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
    total, duplicated = scan(root)
    print(f"non_comment_lines {total}")
    print(f"duplicated_lines {duplicated}")


if __name__ == "__main__":
    main()
