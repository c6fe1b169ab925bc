#!/usr/bin/env python3
"""Line counts of the Scala sources: raw lines, and code lines (lines that
still hold a non-blank character once line and block comments are
stripped). String and char literals are kept intact, so a `//` inside a
string is code; Scala block comments nest.

Usage:
  python3 tools/loc.py             # per file under src/main, then the total
  python3 tools/loc.py DIR_OR_FILE ...
"""
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def code_lines(text):
    """Number of lines of `text` holding code outside comments."""
    lines = set()
    line, i, n, depth = 0, 0, len(text), 0
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # """a"""" ends at the last quote
                end += 1
            for k in range(i, end):
                if text[k] == "\n":
                    line += 1
                elif not text[k].isspace():
                    lines.add(line)
            lines.add(line)
            i = end
        elif c == '"':
            lines.add(line)
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1
        elif c == "'" and (text[i + 2:i + 3] == "'" or text[i + 1:i + 2] == "\\"):
            lines.add(line)
            end = text.find("'", i + 3 if text[i + 1:i + 2] == "\\" else i + 2)
            i = end + 1
        else:
            if not c.isspace():
                lines.add(line)
            i += 1
    return len(lines)


def count(path):
    text = path.read_text(encoding="utf-8")
    return text.count("\n") + (0 if text.endswith("\n") or not text else 1), code_lines(text)


def main(args):
    roots = [pathlib.Path(a) for a in args] or [REPO / "src" / "main"]
    files = sorted(f for r in roots for f in ([r] if r.is_file() else r.rglob("*.scala")))
    raw_total = code_total = 0
    for f in files:
        raw, code = count(f)
        raw_total += raw
        code_total += code
        try:
            name = f.resolve().relative_to(REPO)
        except ValueError:
            name = f
        print(f"{raw:7d} {code:7d}  {name}")
    print(f"{raw_total:7d} {code_total:7d}  total ({len(files)} files; raw, code)")


if __name__ == "__main__":
    main(sys.argv[1:])
