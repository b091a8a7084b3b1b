#!/usr/bin/env python3
"""Compare two `graft.Probe explain` dumps row by row.

    python3 tools/plan_diff.py BEFORE.txt AFTER.txt [--counts]

Each dump is the stdout of `runMain graft.Probe explain <sfDir>`: one
`===== <query> =====` header per row, then that row's formatted physical
plan. Both dumps are normalized first, so that only plan shape and
expressions are compared, not the ids a run happens to draw:

  - expression ids (`vec_id#12351L` -> `vec_id#NL`),
  - plan ids (`plan_id=30274`) and RDD ids (`MapPartitionsRDD[210]`),
  - object hashes (`UnsafeArrayData@16fe8b5f`),
  - the `localCheckpoint at File.scala:156` call site,
  - lambda ids: Catalyst's (`lambda x_590` -> `lambda x_N`) and the
    JVM's (`$$Lambda$6382/0x00007fda196fd0c0`),
  - Spark part-file names (`part-00000-<uuid>-c000`).

Lines the build tool prints (`[success] Total time: ...`) are dropped.

One plan shape is put in a canonical form per row: the `Expand` that
Spark's distinct-aggregate rewrite plans (its last output is `gid`) lists
its distinct groups in an order that can change from one run to the next
(`hourly_kpis_hod`'s two `countDistinct`s). The group columns are sorted
by name in every list of the row, the projections are sorted, and the
`gid` literals that select them are renumbered to match.

It prints every row whose normalized plan differs (with a unified diff
capped at --context lines), and the per-row counts of Exchange,
BroadcastExchange, Generate, Window and join nodes for each such row
(for every row with --counts). The exit status is 0 when every row is
identical, 1 otherwise. Standard library only.
"""

import argparse
import difflib
import re
import sys
from collections import OrderedDict

HEADER = re.compile(r"^===== (.+) =====$")
NODE = re.compile(r"^\((\d+)\) (\w+)")
TOOL_LINE = re.compile(r"^\[(success|info|warn|error)\] ")
EXPAND = re.compile(r"^\(\d+\) Expand\b")
EXPAND_ARGS = "Arguments: "

SUBS = [
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"(localCheckpoint at \w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"part-\d+-[0-9a-f-]{36}-c\d+"), "part-N-UUID"),
]

COUNTED = ("Exchange", "BroadcastExchange", "Generate", "Window", "Join")


def normalize(line):
    for pat, rep in SUBS:
        line = pat.sub(rep, line)
    return line.rstrip()


def split_top(text):
    """Split on the commas that sit outside any bracket."""
    parts, depth, cur = [], 0, []
    for ch in text:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def canonical_expand(lines):
    """Canonical form of each distinct-aggregate `Expand` in one row's
    normalized lines (see the module doc); other lines pass through."""
    lines = list(lines)
    for i, line in enumerate(lines):
        if not EXPAND.match(line):
            continue
        j = next((k for k in range(i + 1, min(i + 4, len(lines)))
                  if lines[k].startswith(EXPAND_ARGS + "[[")), None)
        if j is None:
            continue
        top = split_top(lines[j][len(EXPAND_ARGS):])
        if len(top) != 2:
            continue
        projs = [split_top(p[1:-1]) for p in split_top(top[0][1:-1])]
        out = split_top(top[1][1:-1])
        gid = out[-1]
        if not gid.startswith("gid#") or any(len(p) != len(out) for p in projs):
            continue
        try:
            gids = sorted(int(p[-1]) for p in projs)
        except ValueError:
            continue
        # the group columns (null in some projection), re-slotted by name
        slots = [k for k in range(len(out) - 1)
                 if any(p[k] == "null" for p in projs)]
        by_name = sorted(slots, key=lambda k: out[k])

        def reslot(items):
            items = list(items)
            moved = [items[k] for k in by_name]
            for k, item in zip(slots, moved):
                items[k] = item
            return items

        projs = sorted((reslot(p) for p in projs), key=lambda p: p[:-1])
        renumber = {}
        for p, g in zip(projs, gids):
            renumber[p[-1]] = str(g)
            p[-1] = str(g)
        old_seq = ", ".join(out[k] for k in slots)
        new_seq = ", ".join(out[k] for k in by_name)
        lit = re.compile(r"(%s = )(\d+)\b" % re.escape(gid))
        for k in range(len(lines)):
            if k != j:
                lines[k] = lit.sub(
                    lambda m: m.group(1) + renumber.get(m.group(2), m.group(2)),
                    lines[k].replace(old_seq, new_seq))
        lines[j] = "%s[%s], [%s]" % (
            EXPAND_ARGS, ", ".join("[%s]" % ", ".join(p) for p in projs),
            ", ".join(reslot(out)))
    return lines


def split_rows(text):
    """Row name -> normalized plan lines, in dump order."""
    rows = OrderedDict()
    cur = None
    for raw in text.splitlines():
        m = HEADER.match(raw)
        # a formatted plan's own `===== Subqueries =====` section stays
        # with the row it belongs to
        if m and m.group(1) != "Subqueries":
            cur = m.group(1)
            rows[cur] = []
        elif cur is not None and not TOOL_LINE.match(raw):
            rows[cur].append(normalize(raw))
    return OrderedDict((name, canonical_expand(lines))
                       for name, lines in rows.items())


def node_counts(lines):
    """Counts of the plan operators whose number changes what a row
    costs: shuffles, broadcasts, generators, windows and joins. Read
    from the formatted plan's `(N) Operator` detail headers."""
    counts = dict.fromkeys(COUNTED, 0)
    for line in lines:
        m = NODE.match(line)
        if not m:
            continue
        name = m.group(2)
        if name in ("Exchange", "BroadcastExchange", "Generate", "Window"):
            counts[name] += 1
        elif "Join" in name or name == "CartesianProduct":
            counts["Join"] += 1
    return counts


def fmt_counts(c):
    return " ".join("%s=%d" % (k, c[k]) for k in COUNTED)


def compare(before, after, context=3, show_counts=False, out=sys.stdout):
    """Print the differing rows; return the number of rows that differ
    (missing on either side counts as differing)."""
    a, b = split_rows(before), split_rows(after)
    names = list(a) + [n for n in b if n not in a]
    differ = 0
    count_changed = []
    for name in names:
        la, lb = a.get(name), b.get(name)
        if la is None or lb is None:
            differ += 1
            out.write("ROW %s: only in %s\n" % (name, "after" if la is None else "before"))
            continue
        ca, cb = node_counts(la), node_counts(lb)
        if ca != cb:
            count_changed.append(name)
        same = la == lb
        if not same:
            differ += 1
            out.write("ROW %s: plan differs\n" % name)
            for d in list(difflib.unified_diff(la, lb, "before", "after",
                                               n=context, lineterm=""))[2:]:
                out.write("    " + d[:240] + "\n")
        if not same or show_counts or ca != cb:
            out.write("  counts %s: before %s | after %s\n"
                      % (name, fmt_counts(ca), fmt_counts(cb)))
    out.write("%d rows, %d identical, %d differ; node counts changed in %d%s\n"
              % (len(names), len(names) - differ, differ, len(count_changed),
                 (": " + ", ".join(count_changed)) if count_changed else ""))
    return differ


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--counts", action="store_true",
                    help="print node counts for every row, not only differing ones")
    ap.add_argument("--context", type=int, default=3,
                    help="unified-diff context lines (default 3)")
    args = ap.parse_args(argv)
    with open(args.before) as f:
        before = f.read()
    with open(args.after) as f:
        after = f.read()
    return 1 if compare(before, after, args.context, args.counts) else 0


if __name__ == "__main__":
    sys.exit(main())
