#!/usr/bin/env python3
"""Line counts of the main Scala sources, the figures a simplicity change
reports before and after.

    python3 tools/loc.py [ROOT] [--grep REGEX]...

ROOT is a checkout (default: the current directory). Prints, for
ROOT/src/main:
  - lines: every line of every .scala file;
  - code lines: lines that are not blank and do not start with `//`,
    `/**`, `/*` or `*` (the scaladoc and comment lines);
  - `localCheckpoint` lines, per file and in all;
  - `.collect()` calls;
  - for each --grep REGEX, the code lines that match it outside
    triple-quoted strings (the oracle SQL), per file and in all.
"""
import argparse
import os
import re
import sys

TRIPLE = re.compile(r'""".*?"""', re.S)


def is_comment(line):
    t = line.strip()
    return t.startswith("//") or t.startswith("/*") or t.startswith("*")


def code_view(text):
    """The text's lines with triple-quoted strings blanked (line count kept)."""
    blanked = TRIPLE.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), text)
    return blanked.split("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("root", nargs="?", default=".")
    ap.add_argument("--grep", action="append", default=[],
                    help="count code lines matching this regex (repeatable)")
    args = ap.parse_args()
    main_dir = os.path.join(args.root, "src", "main")
    if not os.path.isdir(main_dir):
        sys.exit(f"no src/main under {args.root}")
    pats = [re.compile(g) for g in args.grep]
    total = code = collects = 0
    ckpt = {}
    grep = [dict() for _ in pats]
    for dirpath, _, files in sorted(os.walk(main_dir)):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, main_dir)
            text = open(path, encoding="utf-8").read()
            lines = text.split("\n")
            if lines and lines[-1] == "":
                lines.pop()
            total += len(lines)
            code += sum(1 for l in lines if l.strip() and not is_comment(l))
            n_ck = sum(1 for l in lines if "localCheckpoint" in l)
            if n_ck:
                ckpt[rel] = n_ck
            collects += text.count(".collect()")
            view = [l for l in code_view(text) if not is_comment(l)]
            for p, counts in zip(pats, grep):
                hits = sum(1 for l in view if p.search(l))
                if hits:
                    counts[rel] = hits
    print(f"src/main lines        {total}")
    print(f"src/main code lines   {code}")
    print(f"localCheckpoint lines {sum(ckpt.values())}")
    for rel, n in sorted(ckpt.items()):
        print(f"  {rel:40s} {n}")
    print(f".collect() calls      {collects}")
    for p, counts in zip(pats, grep):
        print(f"grep {p.pattern!r}: {sum(counts.values())}")
        for rel, n in sorted(counts.items()):
            print(f"  {rel:40s} {n}")


if __name__ == "__main__":
    main()
