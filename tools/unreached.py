#!/usr/bin/env python3
"""List object members in src/main that no program line reaches (report only).

Usage (from the repository root):
  python3 tools/unreached.py

A member is a `def`/`val`/`var`/`class`/`object`/`trait`/`type` declared at
the top level of a column-0 `object` body (two-space indent). It is reported
when its name appears, as a whole word, on no src/main or perfbench/src line
other than its own declaration; comments and string literals do not count
(the `$name` and `${...}` splices of an interpolated string do). Overloads share
one name, so an overload is reported only when every overload is unreached.
`override`, `implicit`, `main`, `apply` and `unapply` members are skipped:
they are reached without their name being written.

Each report line is `file:line  Object.member  tests: <spec files naming it>`;
the last line is the count. The exit status is 0 whatever the count.
"""
import os
import re
import signal
import sys

PROGRAM_ROOTS = ["src/main", "perfbench/src"]
SCAN_ROOT = "src/main"
TEST_ROOT = "src/test"

OBJECT = re.compile(r"^(?:(?:private(?:\[\w+\])?|final|case)\s+)*object\s+(\w+)")
MEMBER = re.compile(
    r"^  (?:@\w+(?:\([^)]*\))?\s+)*"
    r"((?:(?:private|protected)(?:\[\w+\])?|final|sealed|abstract|override|"
    r"implicit|lazy|case)\s+)*"
    r"(def|val|var|class|object|trait|type)\s+([A-Za-z_]\w*)")
SPLICE = re.compile(r"\$\{[^}]*\}|\$[A-Za-z_]\w*")
SKIP_NAMES = {"main", "apply", "unapply"}
SKIP_MODIFIERS = ("override", "implicit")


def scala_files(root):
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def code_lines(path):
    """The file's lines with comments and string literals blanked out; the
    `$name` and `${...}` splices of interpolated strings are kept."""
    out, state = [], None  # None, "block" or '"""'
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            kept, i = [], 0
            while i < len(line):
                if state == "block":
                    end = line.find("*/", i)
                    state, i = (state, len(line)) if end < 0 else (None, end + 2)
                elif state == '"""':
                    end = line.find('"""', i)
                    stop = len(line) if end < 0 else end
                    kept.extend(" " + c for c in SPLICE.findall(line[i:stop]))
                    if end >= 0:
                        kept.append(" ")
                    state, i = (state, stop) if end < 0 else (None, end + 3)
                elif line.startswith("/*", i):
                    state, i = "block", i + 2
                elif line.startswith("//", i):
                    i = len(line)
                elif line.startswith('"""', i):
                    state, i = '"""', i + 3
                elif line[i] == '"':
                    end = i + 1
                    while end < len(line) and line[end] != '"':
                        end += 2 if line[end] == "\\" else 1
                    kept.extend(SPLICE.findall(line[i + 1:end]))
                    kept.append(" ")
                    i = end + 1
                else:
                    kept.append(line[i])
                    i += 1
            out.append("".join(kept))
    return out


def declarations(path, lines):
    """(line number, object, member name) for each member declaration."""
    obj = None
    for n, line in enumerate(lines, 1):
        if line and not line[0].isspace():
            m = OBJECT.match(line)
            obj = m.group(1) if m else None
            continue
        if obj is None:
            continue
        m = MEMBER.match(line)
        if not m:
            continue
        modifiers, name = m.group(1) or "", m.group(3)
        if name in SKIP_NAMES or any(s in modifiers.split() for s in SKIP_MODIFIERS):
            continue
        yield n, obj, name


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    program = {p: code_lines(p) for root in PROGRAM_ROOTS for p in scala_files(root)}
    tests = {p: code_lines(p) for p in scala_files(TEST_ROOT)}
    decls = [(p, n, obj, name)
             for p in sorted(program) if p.startswith(SCAN_ROOT)
             for n, obj, name in declarations(p, program[p])]
    decl_lines = {}
    for p, n, _, name in decls:
        decl_lines.setdefault(name, set()).add((p, n))

    def used(name):
        word = re.compile(r"\b%s\b" % re.escape(name))
        own = decl_lines[name]
        return any(word.search(text)
                   for p, lines in program.items()
                   for n, text in enumerate(lines, 1)
                   if (p, n) not in own)

    unreached = [d for d in decls if not used(d[3])]
    for p, n, obj, name in unreached:
        word = re.compile(r"\b%s\b" % re.escape(name))
        specs = sorted(os.path.basename(t) for t, lines in tests.items()
                       if any(word.search(text) for text in lines))
        print("%s:%d  %s.%s  tests: %s"
              % (p, n, obj, name, ", ".join(specs) if specs else "-"))
    print("%d unreached definitions" % len(unreached))
    return 0


if __name__ == "__main__":
    sys.exit(main())
