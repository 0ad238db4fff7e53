#!/usr/bin/env python3
"""Duplicate-line scan over Scala sources.

A line counts as repeated when it lies in a window of 5 consecutive
non-blank stripped lines that was already seen, earlier in the same file
or in a file before it. Files are read in path order. Prints the total,
then the count per file (largest first).

Usage: tools/dup_scan.py [root]   (default root: src/main)
"""
import os
import signal
import sys

WINDOW = 5


def scala_files(root):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def scan(root):
    seen = set()
    per_file = {}
    for path in scala_files(root):
        with open(path, encoding="utf-8") as f:
            lines = [l.strip() for l in f]
        lines = [l for l in lines if l]
        hit = [False] * len(lines)
        for i in range(len(lines) - WINDOW + 1):
            w = tuple(lines[i:i + WINDOW])
            if w in seen:
                for j in range(i, i + WINDOW):
                    hit[j] = True
            else:
                seen.add(w)
        n = sum(hit)
        if n:
            per_file[path] = n
    return per_file


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet when piped into head
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    per_file = scan(root)
    print(sum(per_file.values()))
    for path, n in sorted(per_file.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {path}")


if __name__ == "__main__":
    main()
