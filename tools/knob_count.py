#!/usr/bin/env python3
"""Defaulted parameters of the `def`s under src/main, and which of them
no caller ever sets.

    python3 tools/knob_count.py              # count, the working tree
    python3 tools/knob_count.py REV          # count, a git revision
    python3 tools/knob_count.py --unset      # list the never-passed ones
    python3 tools/knob_count.py --unset REV

A revision is read straight from the object store (`git show REV:path`),
so no checkout is needed. Run it from the root of the repository.

What counts: a parameter of a `def` in a `.scala` file under src/main
whose declaration carries a default (`name: Type = value`). Parameters of
class constructors are not counted.

When a parameter is passed: some call site under src/main, src/test or
perfbench/src gives it an argument, by name (`f(x, budget = 9)`) or by
position (the third argument of the matching argument list). A call is
`name(...)` with any number of argument lists, optionally with type
arguments (`name[T](...)`); `Obj.name(...)` matches only the defs of an
object, class or trait `Obj` when the scanned sources declare one by that
name; any other call matches every def of that name, which can only
over-count "passed". Comments and string literals are ignored.

Prints `src/main <n>` (the count). With `--unset`, then prints one line
per never-passed parameter: `path:line Owner.def param = default`.
"""
import os
import re
import subprocess
import sys

DEF_TREE = "src/main"
CALL_TREES = ("src/main", "src/test", "perfbench/src")

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
OWNER_RE = re.compile(r"\b(?:object|class|trait)\s+(" + IDENT + r")")
DEF_RE = re.compile(r"\bdef\s+(" + IDENT + r")")
CALL_RE = re.compile(r"(?:(" + IDENT + r")\s*\.\s*)?\b(" + IDENT + r")\s*(?=[\[(])")
NAMED_ARG_RE = re.compile(r"^\s*(" + IDENT + r")\s*=(?![=>])")
CLOSE = {"(": ")", "[": "]", "{": "}"}


def blank_comments_and_strings(text):
    """`text` with comments and string/char literal contents replaced by
    spaces (newlines kept), so offsets and line numbers are unchanged.
    The code inside an interpolation (`s"..${expr}.."`) is kept, and its
    `${`/`}` are blanked with the literal, so brackets stay balanced."""
    out = list(text)
    size = len(text)

    def blank(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    def code(i, in_splice):
        """Scan code from `i`. In a splice, stop past its closing `}`."""
        depth = 0
        while i < size:
            c = text[i]
            if text.startswith("//", i):
                j = text.find("\n", i)
                j = size if j == -1 else j
                blank(i, j)
                i = j
            elif text.startswith("/*", i):
                nest, j = 1, i + 2
                while j < size and nest:
                    if text.startswith("/*", j):
                        nest, j = nest + 1, j + 2
                    elif text.startswith("*/", j):
                        nest, j = nest - 1, j + 2
                    else:
                        j += 1
                blank(i, j)
                i = j
            elif c == '"':
                i = string(i)
            elif c == "'" and i + 2 < size and (text[i + 2] == "'" or text[i + 1] == "\\"):
                j = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2)
                j = size if j == -1 else j
                blank(i + 1, j)
                i = j + 1
            elif in_splice and c == "{":
                depth += 1
                i += 1
            elif in_splice and c == "}":
                if depth == 0:
                    return i + 1
                depth -= 1
                i += 1
            else:
                i += 1
        return i

    def string(i):
        """Blank the literal that opens at `i`; return the index past it."""
        triple = text.startswith('"""', i)
        interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
        j = start = i + (3 if triple else 1)
        while j < size:
            if triple and text.startswith('"""', j):
                while text.startswith('""""', j):
                    j += 1
                blank(start, j)
                return j + 3
            if not triple and text[j] == '"':
                blank(start, j)
                return j + 1
            if not triple and text[j] == "\n":
                break
            if interpolated and text.startswith("$$", j):
                j += 2
            elif interpolated and text.startswith("${", j):
                blank(start, j + 2)
                j = code(j + 2, True)
                blank(j - 1, j)
                start = j
            elif not triple and text[j] == "\\":
                j += 2
            else:
                j += 1
        blank(start, j)
        return j

    code(0, False)
    return "".join(out)


def matching(text, i):
    """Index just past the bracket that closes the one at `i`."""
    stack = [CLOSE[text[i]]]
    j = i + 1
    while j < len(text) and stack:
        c = text[j]
        if c in CLOSE:
            stack.append(CLOSE[c])
        elif c == stack[-1]:
            stack.pop()
        j += 1
    return j


def split_top(body):
    """Split an argument/parameter list body on its top-level commas."""
    parts, depth, start = [], 0, 0
    for k, c in enumerate(body):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(body[start:k])
            start = k + 1
    parts.append(body[start:])
    return [p for p in parts if p.strip()]


def skip_ws(text, i):
    while i < len(text) and text[i].isspace():
        i += 1
    return i


def lists_after(text, i):
    """The parenthesised lists that follow `i` (after optional type
    arguments), as (body, start) pairs, and the index past them."""
    i = skip_ws(text, i)
    if i < len(text) and text[i] == "[":
        i = skip_ws(text, matching(text, i))
    lists = []
    while i < len(text) and text[i] == "(":
        end = matching(text, i)
        lists.append((text[i + 1:end - 1], i + 1))
        i = skip_ws(text, end)
    return lists


def owners_at(text):
    """(name, body_start, body_end) of every object/class/trait that has
    a `{ ... }` body. The header may span lines only where a line goes on
    with `extends` or `with`."""
    owners = []
    for m in OWNER_RE.finditer(text):
        j = m.end()
        while j < len(text) and text[j] not in "{}=;":
            if text[j] in "([":
                j = matching(text, j)
            elif text[j] == "\n" and not text[j:].lstrip().startswith(("extends", "with", "{")):
                break
            else:
                j += 1
        if j < len(text) and text[j] == "{":
            owners.append((m.group(1), j, matching(text, j)))
    return owners


def enclosing(owners, pos):
    inner = None
    for name, a, b in owners:
        if a < pos < b and (inner is None or a > inner[1]):
            inner = (name, a, b)
    return inner[0] if inner else None


def default_at(param):
    """Index of the `=` that opens a parameter's default, or None."""
    depth = 0
    for k, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = param[k - 1] if k else ""
            nxt = param[k + 1] if k + 1 < len(param) else ""
            if nxt not in "=>" and prev not in "=<>!:":
                return k
    return None


def scan(sources):
    """Defaults declared under src/main, and every call site."""
    knobs = []      # dicts: path line owner fn list idx name default
    calls = []      # (qualifier, name, caller_owner, [(positions, names)])
    owner_names = set()
    for path, raw in sources:
        text = blank_comments_and_strings(raw)
        owners = owners_at(text)
        owner_names.update(o[0] for o in owners)
        def_name_ends = set()
        if path.startswith(DEF_TREE + "/"):
            for m in DEF_RE.finditer(text):
                def_name_ends.add(m.end())
                owner = enclosing(owners, m.start())
                for li, (body, start) in enumerate(lists_after(text, m.end())):
                    offset = start
                    for pi, param in enumerate(split_top(body)):
                        at = body.find(param, offset - start) + start
                        offset = at + len(param)
                        eq = default_at(param)
                        if eq is None:
                            continue
                        lead = len(param) - len(param.lstrip())
                        knobs.append(dict(
                            path=path, line=raw.count("\n", 0, at + lead) + 1,
                            owner=owner, fn=m.group(1), list=li, idx=pi,
                            name=param[:eq].split(":")[0].split()[-1],
                            default=" ".join(raw[at + eq + 1:offset].split())))
        else:
            for m in DEF_RE.finditer(text):
                def_name_ends.add(m.end())
        for m in CALL_RE.finditer(text):
            if m.end(2) in def_name_ends:
                continue
            arg_lists = []
            for body, _ in lists_after(text, m.end(2)):
                args = split_top(body)
                named = set()
                positions = set()
                for k, a in enumerate(args):
                    nm = NAMED_ARG_RE.match(a)
                    if nm:
                        named.add(nm.group(1))
                    else:
                        positions.add(k)
                arg_lists.append((positions, named))
            if arg_lists:
                calls.append((m.group(1), m.group(2), enclosing(owners, m.start()), arg_lists))
    return knobs, calls, owner_names


def passed(knob, calls, owner_names):
    for qual, name, _, arg_lists in calls:
        if name != knob["fn"]:
            continue
        if qual in owner_names and qual != knob["owner"]:
            continue
        if knob["list"] < len(arg_lists):
            positions, named = arg_lists[knob["list"]]
            if knob["idx"] in positions or knob["name"] in named:
                return True
    return False


def worktree_sources(tree):
    for root, _, names in os.walk(tree):
        for name in sorted(names):
            if name.endswith(".scala"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    yield path, f.read()


def revision_sources(rev, tree):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", tree],
        check=True, capture_output=True, text=True).stdout.split()
    for path in names:
        if path.endswith(".scala"):
            yield path, subprocess.run(
                ["git", "show", f"{rev}:{path}"],
                check=True, capture_output=True, text=True).stdout


def main(argv):
    args = argv[1:]
    unset = "--unset" in args
    args = [a for a in args if a != "--unset"]
    if len(args) > 1:
        sys.exit("usage: knob_count.py [--unset] [REV]")
    rev = args[0] if args else None
    sources = []
    for tree in CALL_TREES:
        sources.extend(revision_sources(rev, tree) if rev else worktree_sources(tree))
    knobs, calls, owner_names = scan(sources)
    print(f"{DEF_TREE} {len(knobs)}")
    if unset:
        for k in knobs:
            if not passed(k, calls, owner_names):
                print(f"{k['path']}:{k['line']} {k['owner']}.{k['fn']} "
                      f"{k['name']} = {k['default']}")


if __name__ == "__main__":
    main(sys.argv)
