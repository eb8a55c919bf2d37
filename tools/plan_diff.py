#!/usr/bin/env python3
"""Compare two graft.tools.PlanDump output directories.

Usage (from the root of the repo):
    python3 tools/plan_diff.py <dirA> <dirB> [--show N]

PlanDump writes <name>_<tag>.txt (formatted explain, then the executed
plan tree) and <name>_<tag>.counts.json (actions / jobs / stages /
shuffles / broadcasts) per entry; each directory's tag is inferred from
its file names. For every entry present in either directory this
compares:

  - counts.json exactly;
  - the plan text after masking what differs between identical runs:
    expression ids (`#123`), `plan_id=`, object hashes (`@1a2b3c`),
    RDD ids (`RDD[12]`), source line numbers (`Dedup.scala:399`)
    and lambda class ids (`$Lambda$12/0x7f..`), digits inside /tmp
    paths, and graft's `__`-prefixed helper column names (renumbered in order of first appearance, so a renamed helper
    matches but a different use of helpers does not);
  - in a plan with an Expand, every bracketed list and hash
    partitioning compared as a multiset (items sorted, recursively)
    and the Expand's group ids masked: Spark orders an Expand's
    projections (and so their group ids and the lists downstream of
    it) by expression ids, which shift with the expressions earlier
    entries of the same JVM allocated;
  - when the masked text differs, the operator skeleton (the node names
    of the formatted plan's tree) is compared and reported too.

Prints one line per differing entry and a summary, and exits 1 if any
entry differs (counts, masked text, or presence), else 0. --show N
prints the first N differing masked lines of each differing entry.
"""
import argparse
import json
import os
import re
import sys

EXPR_ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
HASH = re.compile(r"@[0-9a-f]{5,}\b")
LAMBDA = re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+")
TMP_PATH = re.compile(r"/tmp/[^\s,\]\)]*")
HELPER = re.compile(r"\b__[A-Za-z0-9_]*[A-Za-z0-9]")
NODE_ID = re.compile(r"\s*\(\d+\)\s*$")
RDD_ID = re.compile(r"RDD\[\d+\]")
SRC_LINE = re.compile(r"\.scala:\d+")
HASHPART = re.compile(r"hashpartitioning\(([^()]*), (\d+)\)")
GID = re.compile(r"\b(gid#N|spark_grouping_id#N) = \d+")


def entries(d):
    """{entry name: (plan path, counts path)} of one dump directory."""
    bases = [f[:-len(".counts.json")] for f in os.listdir(d) if f.endswith(".counts.json")]
    if not bases:
        sys.exit(f"{d}: no *.counts.json files")
    # the tag is the longest `_`-delimited suffix every base shares
    rev = os.path.commonprefix([b[::-1] for b in bases])[::-1]
    tag = rev[rev.index("_"):] if "_" in rev and len(bases) > 1 else "_" + bases[0].rsplit("_", 1)[1]
    return {b[:-len(tag)]: (os.path.join(d, b + ".txt"), os.path.join(d, b + ".counts.json"))
            for b in bases}


def masked(text):
    text = EXPR_ID.sub("#N", text)
    text = PLAN_ID.sub("plan_id=N", text)
    text = HASH.sub("@H", text)
    text = LAMBDA.sub("$Lambda$N", text)
    text = RDD_ID.sub("RDD[N]", text)
    text = SRC_LINE.sub(".scala:N", text)
    text = TMP_PATH.sub(lambda m: re.sub(r"\d+", "N", m.group(0)), text)
    names = {}
    text = HELPER.sub(lambda m: names.setdefault(m.group(0), f"__h{len(names)}"), text)
    return text.splitlines()


def sorted_lists(line, mask_ints=False):
    """`line` with the items of every [...] list sorted, inner lists
    first; commas inside (...) do not split. With mask_ints, bare
    integer items read G. A line with unbalanced brackets is kept."""
    def parse(i):  # line[i] == "["; returns (text, index after "]")
        items, cur, depth = [], "", 0
        i += 1
        while i < len(line):
            c = line[i]
            if c == "[":
                sub, i = parse(i)
                if sub is None:
                    return None, i
                cur += sub
                continue
            if c == "]" and depth == 0:
                items.append(cur.strip())
                if mask_ints:
                    items = ["G" if t.isdigit() else t for t in items]
                return "[" + ", ".join(sorted(items)) + "]", i + 1
            if c == "," and depth == 0:
                items.append(cur.strip())
                cur = ""
            else:
                depth += (c == "(") - (c == ")")
                cur += c
            i += 1
        return None, i

    out, i = "", 0
    while i < len(line):
        if line[i] == "[":
            sub, j = parse(i)
            if sub is None:
                return line
            out, i = out + sub, j
        else:
            out, i = out + line[i], i + 1
    return out


def expand_canonical(lines):
    """Masked plan lines of a plan with an Expand, order-insensitive in
    its lists and blind to the Expand's group-id literals."""
    out, in_expand = [], False
    for line in lines:
        is_args = in_expand and line.startswith("Arguments:")
        if re.match(r"\(\d+\) Expand", line):
            in_expand = True
        elif not line.startswith("Input"):
            in_expand = False
        line = HASHPART.sub(lambda m: "hashpartitioning(" + ", ".join(
            sorted(m.group(1).split(", "))) + ", " + m.group(2) + ")", line)
        out.append(sorted_lists(GID.sub(r"\1 = G", line),
                                mask_ints=is_args or "Expand [" in line))
    return out


def skeleton(text):
    """The node names of the formatted plan's tree (its first block)."""
    out = []
    for line in text.splitlines()[1:]:
        if not line.strip():
            break
        out.append(NODE_ID.sub("", line).rstrip())
    return out


def read(path):
    with open(path) as f:
        return f.read()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--show", type=int, default=0)
    args = ap.parse_args()
    ea, eb = entries(args.a), entries(args.b)
    names = sorted(set(ea) | set(eb))
    same = counts_diff = text_diff = skel_diff = missing = 0
    for n in names:
        if n not in ea or n not in eb:
            missing += 1
            print(f"{n}: only in {args.a if n in ea else args.b}")
            continue
        (pa, ca), (pb, cb) = ea[n], eb[n]
        problems = []
        if json.loads(read(ca)) != json.loads(read(cb)):
            counts_diff += 1
            problems.append(f"counts {read(ca).strip()} vs {read(cb).strip()}")
        ta, tb = read(pa), read(pb)
        ma, mb = masked(ta), masked(tb)
        if ma != mb and "Expand" in ta and "Expand" in tb:
            ma, mb = expand_canonical(ma), expand_canonical(mb)
        if ma != mb:
            text_diff += 1
            if skeleton(ta) == skeleton(tb):
                problems.append("masked text differs, operator skeleton identical")
            else:
                skel_diff += 1
                problems.append("masked text and operator skeleton differ")
        if problems:
            print(f"{n}: " + "; ".join(problems))
            if args.show and ma != mb:
                shown = 0
                for la, lb in zip(ma, mb):
                    if la != lb and shown < args.show:
                        print(f"  - {la}\n  + {lb}")
                        shown += 1
        else:
            same += 1
    print(f"{len(names)} entries: {same} identical, {counts_diff} counts differ, "
          f"{text_diff} masked text differs ({skel_diff} of them in the operator "
          f"skeleton), {missing} present on one side only")
    return 0 if same == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
