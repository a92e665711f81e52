#!/usr/bin/env python3
"""List the `src/main` Scala files that no contract root reaches.

A file is reached when a root names one of its top-level `object`,
`class` or `trait` declarations as a whole word, directly or through
other reached files. Comments are stripped first; string literals are
kept. The roots are the catalog (`queries/Catalog`), the contract entry
points (`SparkEntry`, `Bench`, `Verify`), the two CLIs (`run/Main`,
`run/CheckpointMain`) and every file under `perfbench/scala`.

Prints each unreached file with its line count, then the total.

Usage: python3 tools/reach.py
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(REPO, "src", "main", "scala")
ROOTS = ["graft/queries/Catalog.scala", "graft/SparkEntry.scala",
         "graft/Bench.scala", "graft/Verify.scala", "graft/run/Main.scala",
         "graft/run/CheckpointMain.scala"]
EXTRA_ROOT_DIR = os.path.join(REPO, "perfbench", "scala")

_DECL = re.compile(r"^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*"
                   r"(?:object|class|trait)\s+(\w+)", re.M)
_CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
_WORD = re.compile(r"\w+")


def strip_comments(src):
    """`src` without `//` and (nested) `/* */` comments; string and char
    literals pass through untouched."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...""""" ends on the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and _CHAR.match(src, i):
            m = _CHAR.match(src, i)
            out.append(m.group())
            i = m.end()
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            out.append(" ")
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(top):
    for d, _, names in os.walk(top):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main():
    code, lines = {}, {}
    for p in list(scala_files(MAIN)) + list(scala_files(EXTRA_ROOT_DIR)):
        with open(p, encoding="utf-8") as f:
            src = f.read()
        code[p] = strip_comments(src)
        lines[p] = src.count("\n")
    mains = [p for p in code if p.startswith(MAIN + os.sep)]
    owner = {}  # top-level name -> files declaring it
    for p in mains:
        for name in _DECL.findall(code[p]):
            owner.setdefault(name, set()).add(p)
    roots = [os.path.join(MAIN, r) for r in ROOTS]
    missing = [r for r in roots if r not in code]
    if missing:
        sys.exit("missing root: " + ", ".join(missing))
    roots += [p for p in code if p.startswith(EXTRA_ROOT_DIR + os.sep)]

    reached, todo = set(roots), list(roots)
    while todo:
        p = todo.pop()
        for word in set(_WORD.findall(code[p])):
            for q in owner.get(word, ()):
                if q not in reached:
                    reached.add(q)
                    todo.append(q)

    unreached = sorted(p for p in mains if p not in reached)
    for p in unreached:
        print(f"{lines[p]:6d}  {os.path.relpath(p, REPO)}")
    print(f"{sum(lines[p] for p in unreached):6d}  total, "
          f"{len(unreached)} unreached of {len(mains)} files")


if __name__ == "__main__":
    main()
