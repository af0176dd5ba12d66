#!/usr/bin/env python3
"""Count the source lines of the engine: the lines of each Scala file under
src/main/scala/graft/engine that hold code, that is neither blank nor only
comment, and their total.

A small lexer keeps `//` and nested `/* */` comments apart from string
literals ("...", triple-quoted and interpolated) and character literals, so
a `//` or `/*` inside a regex or a quoted text is code.

Usage: python3 tools/sloc.py [DIR]   (DIR defaults to the engine package)
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold a character of code."""
    lines = set()
    i, n, line, depth = 0, len(text), 0, 0
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth > 0:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif c.isspace():
            i += 1
        else:
            lines.add(line)
            if text.startswith('"""', i):
                end = text.find('"""', i + 3)
                end = n if end < 0 else end + 3
                while end < n and text[end] == '"':  # """a"""" closes last
                    end += 1
            elif c == '"':
                end = i + 1
                while end < n and text[end] not in '"\n':
                    end += 2 if text[end] == "\\" else 1
                end += 1
            elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
                end = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2) + 1
            else:
                end = i + 1
            for k in range(i, min(end, n)):
                if text[k] == "\n":
                    line += 1
                    lines.add(line)
            i = end
    return len(lines)


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        root, "src", "main", "scala", "graft", "engine")
    total = 0
    for dirpath, _, files in sorted(os.walk(base)):
        for f in sorted(files):
            if f.endswith(".scala"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    k = code_lines(fh.read())
                total += k
                print(f"{k:7d}  {os.path.relpath(path, base)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
