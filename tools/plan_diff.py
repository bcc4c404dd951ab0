#!/usr/bin/env python3
"""Diff two `runMain graft.Plans` output directories.

Each plan file is `explain("formatted")` text. Two runs of the same plan
differ in ids Spark allocates per session, so both sides are normalized
before comparing:

- numbered ids are renumbered by first appearance: attribute ids
  (`#123`), exchange ids (`plan_id=45`), RDD ids (`RDD[67]`), operator
  numbering (`(12)`, `operator id: 12`), codegen stage ids;
- run-specific names are blanked: source line numbers of call sites
  (`Dedup.scala:212`), object hashes (`@1a2b3c`), lambda class names and
  temporary paths.

Renumbering (rather than blanking) keeps references honest: the same
attribute must be used in the same places on both sides.

One optimizer choice depends on attribute ids: the rewrite of several
DISTINCT aggregates into an `Expand` numbers its distinct groups (`gid`)
in the hash order of their child attributes, so a change that allocates
a different number of ids anywhere earlier in the session can swap two
groups of an otherwise identical plan. Each such `Expand` is first put
in canonical form: distinct groups sorted by their child columns' names,
their output columns and `gid` literals renumbered to match, everywhere
in the plan.

Usage:
    python3 tools/plan_diff.py BEFORE_DIR AFTER_DIR [row ...]

A plan that reads a checkpointed or RDD-built frame (`Scan ExistingRDD`)
shows only what runs above that scan: the stage that built the frame is
not in the text. A plan that scans no file and no RDD at all (a bare
`LocalTableScan`, the shape of a result collected on the driver, as the
`pipeline_e2e*` rows return) shows none of the work that made its rows.
Such a row, when its visible text is identical, is reported `opaque`
rather than `identical`: the diff cannot vouch for it. Generated leaves
(`Range`, `Scan OneRowRelation`) count as sources: the plan holds all
they compute.

With no rows, every `<row>.txt` present in either directory is compared.
Prints one line per row (`identical`, `opaque`, `DIFFERENT`, or
`missing`), a unified diff of the normalized text for each different row,
and a summary line with the counts. Exit status is 0 when no row is
different or missing, 1 otherwise.
"""
import difflib
import os
import re
import sys

# (pattern, group holding the number to renumber, namespace)
RENUMBER = [
    (re.compile(r"#(\d+)"), "attr"),
    (re.compile(r"plan_id=(\d+)"), "plan"),
    (re.compile(r"RDD\[(\d+)\]"), "rdd"),
    (re.compile(r"codegen id : (\d+)"), "codegen"),
    (re.compile(r"(?:operator id: |operator id = |Subquery:)(\d+)"), "op"),
    # operator numbering: tree lines end in "(N)", sections start "(N) "
    (re.compile(r"\((\d+)\)$", re.M), "op"),
    (re.compile(r"^\((\d+)\) ", re.M), "op"),
]

BLANK = [
    (re.compile(r"(\w+\.scala):\d+"), r"\1:_"),
    (re.compile(r"\$\$Lambda[$\w]*/0x[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@_"),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/_"),
]


def split_top(s):
    """Split `s` at commas outside (), [] and {}."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def unbracket(s):
    s = s.strip()
    assert s[0] == "[" and s[-1] == "]", s
    return s[1:-1]


OPAQUE = "Scan ExistingRDD"
# a leaf whose rows the plan itself reads or generates
SOURCE = re.compile(r"^\(\d+\) (?:Scan (?!ExistingRDD)|BatchScan|Range\b)", re.M)


def is_opaque(text):
    """True when the plan's work is not all in its text: it reads an
    RDD-built frame, or it reads nothing but local rows."""
    return OPAQUE in text or not SOURCE.search(text)

ATTR_ID = re.compile(r"#\d+L?")
EXPAND_ARGS = re.compile(r"^(\(\d+\) Expand\n(?:.*\n)*?Arguments: )(.*)$", re.M)


def canonical_args(args):
    """Canonical form of one Expand's `Arguments` payload, plus the
    renames it implies for the rest of the plan: (args, old column run,
    new column run, gid attribute, old → new gid literal)."""
    projs_s, outs_s = split_top(args)
    outs = split_top(unbracket(outs_s))
    g = next((i for i, o in enumerate(outs) if re.fullmatch(r"gid#\d+", o)),
             None)
    if g is None:  # grouping sets, unpivot: no distinct groups
        return None
    projs = [split_top(unbracket(p)) for p in split_top(unbracket(projs_s))]
    regular = [p for p in projs if p[g] == "0"]
    groups = [p for p in projs if p[g] != "0"]
    # distinct child columns: the ones the distinct groups disagree on
    cols = [i for i in range(len(outs))
            if i != g and len({p[i] for p in groups}) > 1]
    groups.sort(key=lambda p: [ATTR_ID.sub("", p[i]) for i in cols
                               if p[i] != "null"])
    gids = {p[g]: str(n + 1) for n, p in enumerate(groups)}
    # each child column follows the group that fills it
    perm = list(range(len(outs)))
    for slot, i in zip(cols, sorted(cols, key=lambda i: next(
            n for n, p in enumerate(groups) if p[i] != "null"))):
        perm[slot] = i
    rows = [[p[i] if i != g else gids.get(p[g], p[g]) for i in perm]
            for p in regular + groups]
    new_outs = [outs[i] for i in perm]
    return ("[%s], [%s]" % (", ".join("[%s]" % ", ".join(r) for r in rows),
                            ", ".join(new_outs)),
            ", ".join(outs[i] for i in cols),
            ", ".join(new_outs[i] for i in cols), outs[g], gids)


def canonical_expand(text):
    """Sort the distinct groups of every DISTINCT-aggregate Expand."""
    pos = 0
    while True:
        m = EXPAND_ARGS.search(text, pos)
        if m is None:
            return text
        pos = m.end()
        canon = canonical_args(m.group(2))
        if canon is None:
            continue
        args, old_run, new_run, gid, gids = canon
        text = text[:m.start(2)] + args + text[m.end(2):]
        pos = m.start(2) + len(args)
        # the rewritten Arguments line holds new_run already and no gid test
        text = text.replace(old_run, new_run)
        text = re.sub(re.escape(gid) + r" = (\d+)", lambda t: "%s = %s" % (
            gid, gids.get(t.group(1), t.group(1))), text)


def normalize(text):
    for pat, repl in BLANK:
        text = pat.sub(repl, text)
    text = canonical_expand(text)
    tables = {}

    def renumber(ns, pat, text):
        table = tables.setdefault(ns, {})

        def sub(m):
            n = table.setdefault(m.group(1), str(len(table) + 1))
            whole = m.group(0)
            start = m.start(1) - m.start(0)
            return whole[:start] + n + whole[start + len(m.group(1)):]
        return pat.sub(sub, text)

    for pat, ns in RENUMBER:
        text = renumber(ns, pat, text)
    return text


def read(path):
    with open(path, encoding="utf-8") as f:
        return normalize(f.read())


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after, rows = argv[1], argv[2], argv[3:]
    if not rows:
        names = set()
        for d in (before, after):
            names |= {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}
        rows = sorted(names)
    bad = opaque = 0
    for row in rows:
        a, b = (os.path.join(d, row + ".txt") for d in (before, after))
        if not (os.path.exists(a) and os.path.exists(b)):
            print(f"{row}: missing in "
                  f"{before if not os.path.exists(a) else after}")
            bad += 1
            continue
        ta, tb = read(a), read(b)
        if ta == tb:
            if is_opaque(ta):
                opaque += 1
                print(f"{row}: opaque")
            else:
                print(f"{row}: identical")
            continue
        bad += 1
        print(f"{row}: DIFFERENT")
        sys.stdout.writelines(difflib.unified_diff(
            ta.splitlines(True), tb.splitlines(True),
            f"{before}/{row}.txt", f"{after}/{row}.txt", n=1))
    print(f"{len(rows) - bad - opaque} identical, {opaque} opaque, "
          f"{bad} different or missing")
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
