#!/usr/bin/env python3
"""List the `src/main` Scala files and methods that no contract root
reaches.

The roots are the catalog (`queries/Catalog`), the contract entry points
(`SparkEntry`, `Bench`, `Verify`), the two CLIs (`run/Main`,
`run/CheckpointMain`) and every file under `perfbench/scala`. Comments
are stripped first; string literals are kept. Names match as whole words.

Files. A file is reached when a reached file names one of its top-level
`object`, `class` or `trait` declarations.

Methods. Every `def` of a reached file that is not a root is followed,
from the same roots, to a fixpoint. The text of a root, and the part of a
reached file outside its `def`s, is live. A `def` is live when live text
names it: bare in its own file, or from another file as `x.name`, or bare
in a file that imports from the def's owner. A `private` def counts its
own file only. The body of a live `def` is live text too, so a `def`
whose only references are its own body, or the bodies of other dead
`def`s, is dead. A `def` spans its first line and every line after it
indented deeper, or at its depth but opening with a closing bracket; a
`def` nested in another is part of its body. Exempt: `override` and
`implicit` defs, and the names in `API`; an `override` keeps the `def`
it overrides. Any other name kept must carry
a reason in `KEEP`.

Prints each unreached file and each dead method with its line count,
then each kept method with its reason, then the totals. Exits 1 when it
prints an unreached file or a dead method.

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

# Names called from outside the source: JVM entry points, companion
# `apply`/`unapply`, and the members that Catalyst's `UnaryExpression`,
# `BinaryExpression` and `TypedImperativeAggregate` leave abstract (Scala
# does not require `override` to implement an abstract member).
API = {"main", "apply", "unapply",
       "dataType", "nullable", "eval", "nullSafeEval", "doGenCode",
       "withNewChildInternal", "withNewChildrenInternal",
       "createAggregationBuffer", "update", "merge", "serialize",
       "deserialize", "withNewMutableAggBufferOffset",
       "withNewInputAggBufferOffset"}

# "Owner.name" -> why a def that no root reaches stays.
KEEP = {}

_DECL = re.compile(r"^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*"
                   r"(?:object|class|trait)\s+(\w+)", re.M)
_OWNER = re.compile(r"^\s*(?:\w+(?:\[\w+\])?\s+)*(?:object|class|trait)\s+(\w+)")
_DEF = re.compile(r"^([ \t]*)((?:\w+(?:\[\w+\])?\s+)*)def\s+(\w+)")
_CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
_WORD = re.compile(r"\w+")
_DOTTED = re.compile(r"\.\s*(\w+)")
_IMPORT = re.compile(r"^\s*import\s+([\w.]+)\.(?:_|\{|\w+)", re.M)


def strip_comments(src):
    """`src` without `//` and (nested) `/* */` comments; string and char
    literals pass through untouched. A comment's newlines are kept, so
    line numbers survive."""
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
            start, depth, i = i, 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            out.append(" " + "\n" * src.count("\n", start, i))
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(top):
    for d, _, names in os.walk(top):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def _indent(line):
    return len(line) - len(line.lstrip())


def _string_lines(code):
    """Numbers of the lines that open inside a triple-quoted string."""
    inside, i = set(), code.find('"""')
    while i >= 0:
        j = code.find('"""', i + 3)
        if j < 0:
            break
        while code.startswith('"', j + 3):  # """...""""" ends on the last quote
            j += 1
        first = code.count("\n", 0, i)
        inside.update(range(first + 1, first + 1 + code.count("\n", i, j)))
        i = code.find('"""', j + 3)
    return inside


def defs(code):
    """The outermost `def`s of `code` as (owner, name, modifiers, first,
    end) with 0-based line numbers, `end` exclusive; and the lines
    outside them. A line inside a multi-line string continues the line
    before it."""
    lines = code.split("\n")
    in_string = _string_lines(code)

    def ends_block(k, ind):  # line k ends a block opened at depth `ind`
        t = lines[k].lstrip()
        return (k not in in_string and t and _indent(lines[k]) <= ind and
                not (_indent(lines[k]) == ind and t[0] in ")}]"))

    found, rest, owners, i = [], [], [], 0
    while i < len(lines):
        line = lines[i]
        if i in in_string:
            rest.append(line)
            i += 1
            continue
        while owners and ends_block(i, owners[-1][0]):
            owners.pop()
        m = _OWNER.match(line)
        if m:
            owners.append((_indent(line), m.group(1)))
        m = _DEF.match(line)
        if not m:
            rest.append(line)
            i += 1
            continue
        ind, j = len(m.group(1)), i + 1
        while j < len(lines) and not ends_block(j, ind):
            j += 1
        while j > i + 1 and not lines[j - 1].strip():
            j -= 1
        owner = owners[-1][1] if owners else ""
        found.append((owner, m.group(3), m.group(2).split(), i, j))
        i = j
    return found, "\n".join(rest)


def reach(main_dir, root_paths, extra_root_dir):
    """(unreached files, dead methods) of the tree under `main_dir`; a dead
    method is (path, 1-based line, line count, "Owner.name")."""
    code = {}
    for p in list(scala_files(main_dir)) + list(scala_files(extra_root_dir)):
        with open(p, encoding="utf-8") as f:
            code[p] = strip_comments(f.read())
    mains = [p for p in code if p.startswith(main_dir + os.sep)]
    owner = {}  # top-level name -> files declaring it
    for p in mains:
        for name in _DECL.findall(code[p]):
            owner.setdefault(name, set()).add(p)
    roots = [os.path.join(main_dir, r) for r in root_paths]
    missing = [r for r in roots if r not in code]
    if missing:
        sys.exit("missing root: " + ", ".join(missing))
    roots += [p for p in code if p.startswith(extra_root_dir + os.sep)]

    reached, todo = set(roots), list(roots)
    while todo:
        p = todo.pop()
        for word in set(_WORD.findall(code[p])):
            for q in owner.get(word, ()):
                if q not in reached:
                    reached.add(q)
                    todo.append(q)
    unreached = sorted(p for p in mains if p not in reached)

    # Live words per file: all of them, and those written after a `.`.
    # Another file names a non-private `def` as `x.name`, or bare once it
    # imports from the def's owner.
    bare = {p: set() for p in reached}
    dotted = {p: set() for p in reached}
    importers = {}  # owner -> files importing from it
    for p in reached:
        for path in _IMPORT.findall(code[p]):
            importers.setdefault(path.rsplit(".", 1)[-1], set()).add(p)

    def enliven(p, text):
        bare[p].update(_WORD.findall(text))
        dotted[p].update(_DOTTED.findall(text))

    pending = []  # (path, first, end, owner, name, private, body)
    for p in reached:
        if p in roots:
            enliven(p, code[p])
            continue
        found, rest = defs(code[p])
        enliven(p, rest)
        lines = code[p].split("\n")
        for own, name, mods, first, end in found:
            body = "\n".join(lines[first:end])
            if "override" in mods or "implicit" in mods or name in API:
                enliven(p, body)
                dotted[p].add(name)  # keeps a declaration it implements
            else:
                pending.append((p, first, end, own, name, "private" in mods, body))

    def named(p, own, name, private):
        if name in bare[p]:
            return True
        if private:
            return False
        return (any(name in dotted[q] for q in reached) or
                any(name in bare[q] for q in importers.get(own, ())))

    grew = True
    while grew:
        grew = False
        for d in list(pending):
            if named(d[0], d[3], d[4], d[5]):
                pending.remove(d)
                enliven(d[0], d[6])
                grew = True
    dead = sorted((p, first + 1, end - first, f"{own}.{name}")
                  for p, first, end, own, name, _, _ in pending)
    return unreached, dead


def main(main_dir=MAIN, root_paths=ROOTS, extra_root_dir=EXTRA_ROOT_DIR,
         keep=KEEP):
    unreached, dead = reach(main_dir, root_paths, extra_root_dir)
    rel = lambda p: os.path.relpath(p, REPO)
    for p in unreached:
        with open(p, encoding="utf-8") as f:
            print(f"{f.read().count(chr(10)):6d}  {rel(p)}")
    kept = [d for d in dead if d[3] in keep]
    dead = [d for d in dead if d[3] not in keep]
    for p, line, n, name in dead:
        print(f"{n:6d}  {rel(p)}:{line}  {name}")
    for p, line, n, name in kept:
        print(f"{n:6d}  {rel(p)}:{line}  {name}  kept: {keep[name]}")
    print(f"{len(unreached)} unreached files; {len(dead)} dead methods, "
          f"{sum(d[2] for d in dead)} lines; {len(kept)} kept")
    return 1 if unreached or dead else 0


if __name__ == "__main__":
    sys.exit(main())
