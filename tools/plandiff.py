#!/usr/bin/env python3
"""Diff two `graft.Profile` plan directories, ignoring run-specific ids.

`graft.Profile <sfDir> <cores> <rounds> <outDir> [name ...]` writes one
formatted final plan per query or job to `<outDir>/plans/<name>.txt`. Two
runs of the same plan differ only in ids the session hands out: expression
ids (`game_id#1234L`), plan ids (`[plan_id=56]`), exchange ids (`[id=#78]`)
and lambda variable suffixes (`lambda x_6`). This script removes those and
compares what is left, so a refactor that claims "same plans" can show it:

    python3 tools/plandiff.py <old>/plans <new>/plans [name ...]

A plan file holds one `== Physical Plan ==` block per SQL execution; the
blocks are compared in sorted order, because concurrent jobs (the two GBT
fits of the learned lanes) reach Profile's listener in either order. With
names, only those plans are compared; otherwise every plan present in
either directory. Prints `same` or `DIFF` per plan, a unified diff of the
normalized text for each difference, and a summary line. Exits 1 when a plan
differs or is missing on one side.
"""
import difflib
import pathlib
import re
import sys

IDS = [
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=]"),
    (re.compile(r"\[id=#\d+\]"), "[id=#]"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_"),
]


def normalize(text):
    for rx, repl in IDS:
        text = rx.sub(repl, text)
    blocks = re.split(r"(?m)^(?=== Physical Plan ==$)", text)
    return [line for block in sorted(blocks) for line in block.splitlines()]


def load(directory, name):
    path = directory / f"{name}.txt"
    return normalize(path.read_text()) if path.exists() else None


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    old, new = pathlib.Path(argv[0]), pathlib.Path(argv[1])
    names = argv[2:] or sorted({p.stem for d in (old, new) for p in d.glob("*.txt")})
    differ = 0
    for name in names:
        a, b = load(old, name), load(new, name)
        if a is None or b is None:
            print(f"MISSING {name}: {'old' if a is None else 'new'} side has no plan")
            differ += 1
        elif a == b:
            print(f"same    {name}")
        else:
            print(f"DIFF    {name}")
            sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                a, b, f"{old}/{name}.txt", f"{new}/{name}.txt", lineterm=""))
            differ += 1
    print(f"{len(names) - differ} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
