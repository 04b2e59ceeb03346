#!/usr/bin/env python3
"""Count code lines per Scala file and in total.

A code line is any line that is not blank and not wholly inside a `//` or
`/* ... */` comment: a line carrying code before or after a comment counts.
String literals (including triple-quoted ones) are skipped so a `//` inside
a string is not taken for a comment.

Usage: python3 tools/codelines.py [ROOT]   (ROOT defaults to src/main/scala)
Prints one `<code lines>  <physical lines>  <path>` row per file, largest
first, then the totals.
"""
import os
import sys


def code_lines(text):
    """Number of lines with at least one non-space character outside comments."""
    count = 0
    depth = 0          # /* */ nesting (Scala block comments nest)
    in_str = None      # None, '"' or '"""'
    i, n = 0, len(text)
    has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            if has_code:
                count += 1
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str:
            has_code = True
            if in_str == '"""':
                if text.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
            elif c == "\\":
                i += 2
            elif c == '"':
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            in_str = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            in_str = '"'
            has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a character literal such as '"' or '\n'
            end = text.find("'", i + 2 if text[i + 1] != "\\" else i + 3)
            has_code = True
            i = (end + 1) if end >= 0 else i + 1
            continue
        if not c.isspace():
            has_code = True
        i += 1
    if has_code:
        count += 1
    return count


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    rows = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(dirpath, name)
                with open(p, encoding="utf-8") as f:
                    text = f.read()
                physical = text.count("\n") + (0 if text.endswith("\n") or not text else 1)
                rows.append((code_lines(text), physical, p))
    rows.sort(key=lambda r: (-r[0], r[2]))
    for code, physical, p in rows:
        print(f"{code:7d} {physical:7d}  {p}")
    print(f"{sum(r[0] for r in rows):7d} {sum(r[1] for r in rows):7d}  total ({len(rows)} files)")


if __name__ == "__main__":
    main()
