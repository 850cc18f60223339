#!/usr/bin/env python3
"""Count Scala code lines: blank lines, `//` comment lines and `/* */`
comment blocks are not counted.

The rule is line-based, so the count is easy to reproduce by hand:
  - a line that is blank, or whose first non-blank characters are `//`,
    is not code;
  - a line whose first non-blank characters are `/*` opens a comment
    block that runs to the first `*/`; its lines are not code, unless
    code follows the `*/` on the closing line;
  - every other line is code, including `val x = 1 // note`.
String literals are not parsed: a line of a multi-line SQL string that
starts with `//` (DuckDB's integer division) counts as a comment.

Usage: python3 tools/code_lines.py FILE.scala [FILE.scala ...]
Prints one `<count> <file>` line per file, and a total line when given
more than one file.
"""
import sys


def code_line_numbers(text):
    """The 1-based numbers of the code lines in `text`."""
    numbers = []
    in_block = False
    for number, line in enumerate(text.splitlines(), 1):
        s = line.strip()
        if in_block or s.startswith("/*"):
            in_block = "*/" not in s
            if not in_block and s.split("*/", 1)[1].strip():
                numbers.append(number)
        elif s and not s.startswith("//"):
            numbers.append(number)
    return numbers


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            c = len(code_line_numbers(f.read()))
        total += c
        print(c, p)
    if len(paths) > 1:
        print(total, "total")


if __name__ == "__main__":
    main(sys.argv[1:])
