#!/usr/bin/env python3
"""Line counts of src/main: the figure ROADMAP tracks, reported one way.

Prints two counts per tree:
  lines       every line of every file under src/main (what `wc -l` gives)
  scala_code  Scala lines holding code: no blank lines, no lines that are
              only comment (line comments, block comments and scaladoc,
              nested block comments included; a `//` inside a string
              literal is code)

for the working tree and, with --base, for <rev> (read through `git
show`, so the working tree is not touched), plus the change.

    python3 tools/loc.py
    python3 tools/loc.py --base HEAD~1
"""
import argparse
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = "src/main"


def code_lines(text):
    """Lines of Scala `text` with at least one character of code."""
    n = 0
    depth = 0        # nesting depth of /* */ comments
    string = None    # '"' or '"""' while inside a string literal
    for line in text.split("\n"):
        has_code = string is not None and line.strip() != ""
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    i += 1
            elif string:
                if string == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(string, i):
                    i, string = i + len(string), None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            else:
                c = line[i]
                if line.startswith('"""', i):
                    string, i = '"""', i + 3
                elif c == '"':
                    string, i = '"', i + 1
                elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                    i += 3  # a char literal such as '"'
                else:
                    i += 1
                if not c.isspace():
                    has_code = True
        if string == '"':
            string = None  # a single-quoted literal never spans lines
        n += has_code
    return n


def count(files):
    """(lines, scala code lines) over (path, text) pairs."""
    lines = code = 0
    for path, text in files:
        lines += text.count("\n")
        if path.endswith(".scala"):
            code += code_lines(text)
    return lines, code


def working_tree():
    for d, _, names in os.walk(os.path.join(ROOT, MAIN)):
        for name in names:
            path = os.path.join(d, name)
            with open(path, encoding="utf-8", errors="replace") as f:
                yield path, f.read()


def at_rev(rev):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", MAIN], cwd=ROOT,
        check=True, capture_output=True, text=True).stdout.split("\n")
    for path in filter(None, names):
        text = subprocess.run(["git", "show", f"{rev}:{path}"], cwd=ROOT,
            check=True, capture_output=True).stdout
        yield path, text.decode("utf-8", errors="replace")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="revision to compare the working tree with")
    args = ap.parse_args()
    rows = [("working tree", count(working_tree()))]
    if args.base:
        rows.insert(0, (args.base, count(at_rev(args.base))))
    print(f"{MAIN:<16}{'lines':>10}{'scala_code':>12}")
    for name, (lines, code) in rows:
        print(f"{name:<16}{lines:>10}{code:>12}")
    if args.base:
        (l0, c0), (l1, c1) = rows[0][1], rows[1][1]
        print(f"{'change':<16}{l1 - l0:>+10}{c1 - c0:>+12}")


if __name__ == "__main__":
    main()
