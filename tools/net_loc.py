#!/usr/bin/env python3
"""Net lines of Scala code under src/main and src/test.

    python3 tools/net_loc.py          # the working tree
    python3 tools/net_loc.py REV      # a git revision, read with `git show`

A revision is read straight from the object store (`git show REV:path`),
so no checkout is needed. Run it from the root of the repository.

Counting rule: a line counts when, after comments are removed, it still
holds a non-whitespace character. Comments are `//` to the end of the
line and `/* ... */` blocks (scaladoc included; Scala block comments
nest). Comment markers inside string literals ("...", the triple-quoted
form) and character literals are not comments. A line with code and a
trailing comment counts; a line of a block comment does not.

Prints one line per tree: `src/main <n>` and `src/test <n>`.
"""
import os
import subprocess
import sys

TREES = ("src/main", "src/test")


def code_lines(text):
    """Lines of `text` that keep a non-whitespace character outside comments."""
    n = 0
    depth = 0          # block-comment nesting
    in_str = None      # None, '"' or '"""'
    has_code = False
    i, size = 0, len(text)
    while i < size:
        c = text[i]
        if c == "\n":
            n += has_code
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
            if not c.isspace():
                has_code = True
            if in_str == '"' and c == "\\":
                i += 2
            elif text.startswith(in_str, i):
                # a triple-quoted string closes at the END of a run of
                # quotes: `""""` is one quote character and the closer
                while in_str == '"""' and text.startswith('""""', i):
                    i += 1
                i += len(in_str)
                in_str = None
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < size and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if not c.isspace():
            has_code = True
        if text.startswith('"""', i):
            in_str = '"""'
            i += 3
        elif c == '"':
            in_str = '"'
            i += 1
        elif c == "'" and i + 2 < size and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a character literal: 'x' or an escape such as '\n' or '\''
            end = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2)
            i = (end + 1) if end != -1 else size
        else:
            i += 1
    return n + has_code


def worktree_files(tree):
    for root, _, names in os.walk(tree):
        for name in sorted(names):
            if name.endswith(".scala"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    yield f.read()


def revision_files(rev, tree):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", tree],
        check=True, capture_output=True, text=True).stdout.split()
    for path in names:
        if path.endswith(".scala"):
            yield subprocess.run(
                ["git", "show", f"{rev}:{path}"],
                check=True, capture_output=True, text=True).stdout


def main(argv):
    if len(argv) > 2:
        sys.exit("usage: net_loc.py [REV]")
    rev = argv[1] if len(argv) == 2 else None
    for tree in TREES:
        files = revision_files(rev, tree) if rev else worktree_files(tree)
        print(f"{tree} {sum(code_lines(t) for t in files)}")


if __name__ == "__main__":
    main(sys.argv)
