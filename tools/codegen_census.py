#!/usr/bin/env python3
"""Census of Spark's Janino compiles from a CodeGenerator DEBUG log.

With `org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator` at
DEBUG, Spark logs the source of every class it compiles (one compile per
miss in its codegen cache) as a header line ending in
`DEBUG CodeGenerator: ` followed by the numbered source lines
(`/* 001 */ ...`). This script reads such a log and sorts every compile
into one of three kinds, by what the log held before it:

  new         code not seen earlier in the log
  exact       the same code compiled again: the cache had evicted it, or
              held it under another class loader
  stage-id    the same code except for the whole-stage stage id in the class
              name (`GeneratedIteratorForCodegenStage<n>`, `codegenStageId=<n>`)

    python3 tools/codegen_census.py run.err
    python3 tools/codegen_census.py run.err --mark '\\[perfbench\\] .*?(set-up|set \\d+):'

`--mark REGEX` splits the log into sections: a line matching REGEX closes
the section it ends and names it (the first group of the match, or the whole
match if REGEX has no group); compiles after the last such line form a
section named `rest`. Each section prints its compiles by kind
and its number of distinct codes; the last line covers the whole log.
"""
import argparse
import re
import sys

HEADER = re.compile(r"DEBUG CodeGenerator: ?$")
SOURCE = re.compile(r"/\* \d+ \*/|\[truncated to ")
STAGE_ID = re.compile(r"(GeneratedIteratorForCodegenStage|codegenStageId=)\d+")
KINDS = ("new", "exact", "stage-id")


def compiles(lines, mark=None):
    """Yield ("compile", source) per logged compile and ("mark", name) per
    line matching `mark`, in log order."""
    source = None
    for line in lines:
        line = line.rstrip("\n")
        if source is not None:
            if SOURCE.match(line):
                source.append(line)
                continue
            yield "compile", "\n".join(source)
            source = None
        if HEADER.search(line):
            source = []
        elif mark is not None:
            m = mark.search(line)
            if m:
                yield "mark", m.group(1 if m.re.groups else 0)
    if source is not None:
        yield "compile", "\n".join(source)


def census(events):
    """[(section, {kind: count}, distinct codes)] in log order, and the
    whole log's totals as the last entry."""
    exact_seen, shape_seen = set(), set()
    sections, total = [], ({k: 0 for k in KINDS}, set())
    cur = ({k: 0 for k in KINDS}, set())
    for kind, value in events:
        if kind == "mark":
            sections.append((value,) + cur)
            cur = ({k: 0 for k in KINDS}, set())
            continue
        shape = STAGE_ID.sub(r"\1#", value)
        if value in exact_seen:
            k = "exact"
        elif shape in shape_seen:
            k = "stage-id"
        else:
            k = "new"
        exact_seen.add(value)
        shape_seen.add(shape)
        for counts, codes in (cur, total):
            counts[k] += 1
            codes.add(value)
    if sum(cur[0].values()) or not sections:
        sections.append(("rest",) + cur)
    return [(name, counts, len(codes)) for name, counts, codes in sections] + \
        [("total", total[0], len(total[1]))]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="log file with CodeGenerator at DEBUG ('-' = stdin)")
    ap.add_argument("--mark", help="regex of the lines that close a section")
    args = ap.parse_args()
    mark = re.compile(args.mark) if args.mark else None
    f = sys.stdin if args.log == "-" else open(args.log, errors="replace")
    with f:
        rows = census(compiles(f, mark))
    width = max(len(name) for name, _, _ in rows)
    print(f"{'section':<{width}}  compiles  {'  '.join(f'{k:>8}' for k in KINDS)}  distinct")
    for name, counts, distinct in rows:
        print(f"{name:<{width}}  {sum(counts.values()):>8}  "
              f"{'  '.join(f'{counts[k]:>8}' for k in KINDS)}  {distinct:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
