#!/usr/bin/env python3
"""Check that COVERAGE.md names only code that exists and is reached.

Every backticked `Object.member` in COVERAGE.md (an object, class or trait
that `src/main` defines, then a member; `Object.a/b` names two members)
must pass two static checks:

  1. the member is defined (`def`, `val`, `var`, `object`, `class`,
     `trait`, `type`, or a constructor parameter `name: Type`) in a
     `src/main` file that defines the object;
  2. the member name is referenced somewhere in `src`, `perfbench` or
     `tools` other than on its own definition line. Comment lines (those
     starting with `*`, `/*`, `//` or `#`) and trailing `//` comments do
     not count as references.

Names whose object `src/main` does not define (Spark's `Trigger.AvailableNow`,
say) are skipped. The search is by name, so a member whose name is also
used for something else passes check 2; it never reports a miss that is
not one.

Usage:
    python3 tools/coverage_check.py [REPO_ROOT]

Prints one `COVERAGE.md:<line>: <Object.member>: <reason>` line per miss,
then `<n> misses of <m> names`, and exits 1 when there is any miss.
"""

import os
import re
import sys

SPAN = re.compile(r"`([^`\n]+)`")
NAME = re.compile(r"^([A-Z][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*(?:/[A-Za-z_][A-Za-z0-9_]*)*)")
TYPE_DEF = r"\b(?:object|class|trait)\s+{}\b"
MEMBER_DEF = (r"\b(?:def|val|var|object|class|trait|type)\s+{0}\b"
              r"|[(,]\s*{0}\s*:\s*[A-Z]")
TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CODE_EXT = (".scala", ".java", ".py")


def files_under(root, dirs, exts):
    for d in dirs:
        for base, _, names in os.walk(os.path.join(root, d)):
            for n in sorted(names):
                if n.endswith(exts):
                    yield os.path.join(base, n)


def code_lines(path):
    """(line number, text) of the lines that are not comment lines."""
    out = []
    with open(path, encoding="utf-8") as f:
        for i, line in enumerate(f, 1):
            s = line.strip()
            if not s or s.startswith(("*", "/*", "//", "#")):
                continue
            out.append((i, line.split(" // ")[0]))
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    main_src = {p: open(p, encoding="utf-8").read()
                for p in files_under(root, ["src/main"], (".scala",))}
    # identifier -> the code lines that hold it
    refs = {}
    for p in files_under(root, ["src", "perfbench", "tools"], CODE_EXT):
        for _, text in code_lines(p):
            for tok in set(TOKEN.findall(text)):
                refs.setdefault(tok, []).append(text)

    names = []  # (coverage line, object, member)
    with open(os.path.join(root, "COVERAGE.md"), encoding="utf-8") as f:
        for i, line in enumerate(f, 1):
            for span in SPAN.findall(line):
                m = NAME.match(span)
                if m:
                    names.extend((i, m.group(1), mem)
                                 for mem in m.group(2).split("/"))

    homes_of = {}  # object -> the src/main files that define it
    misses, checked = [], 0
    for line, obj, mem in names:
        if obj not in homes_of:
            homes_of[obj] = [p for p, text in main_src.items()
                             if re.search(TYPE_DEF.format(obj), text)]
        homes = homes_of[obj]
        if not homes:
            continue
        checked += 1
        where = f"COVERAGE.md:{line}: {obj}.{mem}"
        defs = re.compile(MEMBER_DEF.format(re.escape(mem)))
        if not any(defs.search(main_src[p]) for p in homes):
            misses.append(f"{where}: not defined in {', '.join(homes)}")
            continue
        if all(defs.search(text) for text in refs.get(mem, [])):
            misses.append(f"{where}: no reference besides its definition")

    for m in misses:
        print(m)
    print(f"{len(misses)} misses of {checked} names")
    return 1 if misses else 0


if __name__ == "__main__":
    sys.exit(main())
